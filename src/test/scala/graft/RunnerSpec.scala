package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `Runner`, the harness mains' per-query loop: it releases exactly what
  * its body persisted, with no global flush, and its counters see every
  * task of the body with no sleep.
  */
class RunnerSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private lazy val runner = new Runner(spark)

  test("a pin-heavy query twice in one session leaves no persistent RDD; an older frame survives") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val keep = spark.range(100).toDF("x").persist()
    keep.count()
    val kept = sc.getPersistentRDDs.keySet -- before
    assert(kept.nonEmpty)
    val q158 = SparkEntry.queries("q158_curation_capstone")
    (1 to 2).foreach { rep =>
      val r = runner {
        q158(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        sc.getPersistentRDDs.keySet
      }
      assert((r.value -- before -- kept).nonEmpty, s"rep $rep pinned nothing")
      assert(sc.getPersistentRDDs.keySet -- before === kept, s"rep $rep")
    }
    assert(keep.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(!spark.sharedState.cacheManager.isEmpty)
    keep.unpersist(blocking = true)
  }

  test("a plan cached in the body is uncached when the cache held none before") {
    spark.catalog.clearCache()
    val r = runner {
      val df = spark.range(50).toDF("y").cache()
      df.count()
    }
    assert(r.value === 50L)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("over 20 reps the counters see every task of the body") {
    (1 to 20).foreach { rep =>
      val r = runner(spark.sparkContext.parallelize(1 to 1000, 7).foreach(_ => ()))
      assert(r.tasks === 7, s"rep $rep")
      assert(r.stages.size === 1, s"rep $rep")
      assert(r.stages.values.forall(_.name.nonEmpty), s"rep $rep")
    }
    val shuffled = runner(spark.sparkContext.parallelize(1 to 1000, 7)
      .map(i => (i % 10, i)).reduceByKey(_ + _, 3).count())
    assert(shuffled.value === 10L)
    assert(shuffled.tasks === 10)
    assert(shuffled.shuffleWriteBytes > 0 && shuffled.shuffleReadBytes > 0)
  }

  test("a failing body is returned as its error, with the clock stopped") {
    val r = runner[Int](throw new IllegalStateException("boom"))
    assert(r.result.left.map(_.getMessage) === Left("boom"))
    assert(intercept[IllegalStateException](r.value).getMessage === "boom")
  }
}
