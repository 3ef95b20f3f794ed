package graft

/** The knob table's contract (Knobs): every numeric knob reads blank as
  * its default and rejects junk and out-of-range values by key; Verify's
  * refusal follows the table's pinned flag; `SPARK_GRAFT_CONF` rejects an
  * undeclared `spark.graft.*` key.
  */
class KnobsSpec extends SparkSpec {

  private def withConf[T](key: String, v: String)(body: => T): T = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  private def minus1(v: Any) = (BigDecimal(v.toString) - 1).toString
  private def plus1(v: Any) = (BigDecimal(v.toString) + 1).toString

  // (knob, out-of-range values) for every numeric knob in the table
  private val numeric: Seq[(Knobs.Knob[_], Seq[String])] = Knobs.all.collect {
    case k: Knobs.Num[_] => (k, minus1(k.min) +: k.max.map(plus1).toSeq)
    case k: Knobs.CapKnob => (k, Seq(minus1(k.min)))
  }

  test("the table declares 15 knobs, 14 of them numeric") {
    assert(Knobs.all.size === 15)
    assert(numeric.size === 14)
  }

  numeric.foreach { case (k, outOfRange) =>
    test(s"${k.key}: blank is the default; junk and out-of-range name the key") {
      val blank: Any = withConf(k.key, " ")(k.get(spark))
      assert(blank == k.default)
      for (v <- "junk" +: outOfRange) {
        val e = withConf(k.key, v)(intercept[IllegalArgumentException](k.get(spark)))
        assert(e.getMessage.contains(k.key), s"'$v': ${e.getMessage}")
      }
    }
  }

  test("Verify refuses each oracle-pinned knob and not an unpinned one") {
    val pinned = Knobs.all.filter(_.oraclePinned).map(_.key)
    assert(pinned.toSet === Set("semantic.tau", "tfidf.minDf",
      "shingle.dfCutoff", "ann.ivfCells", "ann.nprobe", "ann.ivfCellCap",
      "ann.ivfKmeansIters", "eval.sampleMod", "graph.wedgeCap")
      .map("spark.graft." + _))
    Knobs.requireOracleDefaults(spark)
    pinned.foreach { key =>
      val e = withConf(key, "1")(
        intercept[IllegalArgumentException](Knobs.requireOracleDefaults(spark)))
      assert(e.getMessage.contains(key))
    }
    withConf(Knobs.snapshotBuckets.key, "4")(Knobs.requireOracleDefaults(spark))
  }

  test("SPARK_GRAFT_CONF rejects an undeclared spark.graft.* key") {
    for (key <- Seq("spark.graft.materialize", "spark.graft.ann.bucketCap",
                    "spark.graft.snapshot.bucket")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.applyConf(spark, s"$key=1"))
      assert(e.getMessage.contains(key))
      assert(spark.conf.getOption(key).isEmpty)
    }
    try {
      GraftSession.applyConf(spark,
        " spark.graft.snapshot.buckets = 4 ; graftspec.passthrough=x ")
      assert(Knobs.snapshotBuckets.get(spark) === 4)
      assert(spark.conf.get("graftspec.passthrough") === "x")
    } finally {
      spark.conf.unset(Knobs.snapshotBuckets.key)
      spark.conf.unset("graftspec.passthrough")
    }
  }
}
