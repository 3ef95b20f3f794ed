package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the `auto` skew caps (Knobs.CapKnob): prints, for
  * one sf dir, each knob's fixed default, the derived `auto` value, and
  * the distribution stats it was derived from (p50/p99/max of node
  * degree, shingle df, IVF primary-cell occupancy) — the evidence that
  * the derived caps land inside the measured-optimal band on a given
  * corpus. Reuses the operators' OWN frame builders (coLineAdj,
  * shingles, normed) so the measured distributions are exactly the ones
  * the queries cap. Usage: runMain graft.KnobProbe <sfDir>
  */
object KnobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: KnobProbe <sfDir>")
    val d = args(0)
    val spark = GraftSession.get()
    import graft.ops.{Dedup, Graph, Similarity}
    import Knobs.{annIvfCellCap, graphWedgeCap, shingleDfCutoff}

    def stats(df: org.apache.spark.sql.DataFrame, c: String): String = {
      val r = df.agg(
        expr(s"percentile_approx($c, 0.5, 10000)").as("p50"),
        expr(s"percentile_approx($c, 0.99, 10000)").as("p99"),
        max(col(c)).as("mx"), count(lit(1)).as("n")).first()
      s"p50=${r.get(0)} p99=${r.get(1)} max=${r.get(2)} keys=${r.get(3)}"
    }

    Materialize.scoped {
      // node degree over the undirected co-line graph (wedgeCap site)
      val adj = Graph.coLineAdj(spark, d)
      val und = adj
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")).distinct()
      val deg = Materialize.stage(
        und.select(col("a").as("u")).union(und.select(col("b").as("u")))
          .groupBy(col("u")).agg(count(lit(1)).as("deg")))
      val wedge = graphWedgeCap.fromP99(deg, "deg")
      println(s"KNOB wedgeCap default=${graphWedgeCap.fallback} auto=$wedge  [deg: ${stats(deg, "deg")}]")

      // shingle document frequency (dfCutoff site)
      val dfs = Materialize.stage(Dedup.shingles(spark, d)
        .groupBy(col("shingle")).agg(count(lit(1)).as("df")))
      val cut = shingleDfCutoff.fromP99(dfs, "df")
      println(s"KNOB dfCutoff default=(uncapped) auto=$cut  [df: ${stats(dfs, "df")}]")

      // IVF primary-cell occupancy under sim_ann_ivf's md5-seeded K=16
      // quantizer (ivfCellCap site)
      val e = Materialize.stage(Similarity.normed(spark, d)
        .select(col("vec_id"), col("embedding"), col("nrm")))
      val seeds = e
        .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
        .limit(Knobs.annIvfCells.default)
        .select(col("vec_id").as("sid"), col("embedding").as("semb"),
          col("nrm").as("snrm"))
      val occ = e.crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("sid"),
          (expr("vec_dot(embedding, semb)") / (col("nrm") * col("snrm"))).as("c"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
            .orderBy(col("c").desc, col("sid").asc)))
        .filter(col("rn") === 1)
        .groupBy(col("sid")).agg(count(lit(1)).as("n"))
      val cap = annIvfCellCap.fromP99(occ, "n")
      println(s"KNOB ivfCellCap default=${annIvfCellCap.fallback} auto=$cap  [occ: ${stats(occ, "n")}]")
    }
    spark.stop()
  }
}
