package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Per-scope staging semantics: releasing one query's scope must leave a
  * concurrently-running query's staged cache live.
  */
class MaterializeSpec extends SparkSpec {

  test("releasing one scope leaves a concurrent scope's cache live") {
    val bStaged   = new CountDownLatch(1)
    val aReleased = new CountDownLatch(1)
    @volatile var bFrame: DataFrame = null
    @volatile var bError: Throwable = null

    // "query B" on its own thread: stages a frame, then holds its scope
    // open until query A has come and gone
    val tB = new Thread(() =>
      try Materialize.scoped {
        bFrame = Materialize.stageEager(spark.range(1000).toDF("id"))
        bStaged.countDown()
        aReleased.await()
        assert(bFrame.storageLevel != StorageLevel.NONE,
          "A's release must not unpersist B's staged frame")
      } catch { case t: Throwable => bError = t; bStaged.countDown() })
    tB.start()
    bStaged.await()
    assert(bError == null, s"scope B failed staging: $bError")

    // "query A": stage and release on the main thread while B is live
    var aFrame: DataFrame = null
    Materialize.scoped {
      aFrame = Materialize.stageEager(spark.range(500).toDF("id"))
      assert(aFrame.storageLevel != StorageLevel.NONE)
    }
    assert(aFrame.storageLevel == StorageLevel.NONE,
      "A's scope end must release A's staged frame")
    assert(bFrame.storageLevel != StorageLevel.NONE,
      "B's staged frame must still be cached after A's release")

    aReleased.countDown()
    tB.join(60000)
    assert(bError == null, s"scope B assertion failed: $bError")
    assert(bFrame.storageLevel == StorageLevel.NONE,
      "B's scope end must release B's staged frame")
  }
}
