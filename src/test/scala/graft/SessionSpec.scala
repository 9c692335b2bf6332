package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** `Session.build` is the one session configuration. Its confs are pinned
  * here, and so is the hand copy `perfbench/` keeps of them: a change to
  * either one that the other does not follow fails loudly.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val pinned = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.ui.enabled" -> "false")

  test("Session.build(4) sets the pinned confs and the graft extensions") {
    assert(Session.confs(4) === pinned)
    assert(spark.sparkContext.master === "local[4]")
    val conf = spark.sparkContext.getConf
    pinned.foreach { case (k, v) => assert(conf.get(k) === v, k) }
    assert(spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
      .contains(graft.plans.SmallFinalSort))
    Seq("exact_dot", "md5hash64", "nfc").foreach { f =>
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(f)), f)
    }
  }

  test("perfbench's hand copy of the session names the same confs and values") {
    val src = Files.readString(Paths.get("perfbench/src/main/scala/perfbench/Main.scala"))
    val body = src.slice(src.indexOf("def session("), src.indexOf(".getOrCreate()"))
    val cpus = """private val Cpus = (\d+)""".r.findFirstMatchIn(src).map(_.group(1).toInt)
      .getOrElse(fail("perfbench's Cpus constant not found"))
    assert(body.contains("""master(s"local[$Cpus]")"""))
    assert(body.contains(".withExtensions(new graft.plans.GraftExtensions)"))
    val conf = """\.config\("([^"]+)",\s*(.+)\)""".r
    val literal = "\"(.*)\"".r
    val confs = body.linesIterator.map(_.trim).collect { case conf(k, v) => k -> v }.toSeq
    // the deployment settings perfbench adds: its files live in its run dir
    val deployment = Set("spark.sql.warehouse.dir", "spark.local.dir")
    val engine = confs.filterNot(c => deployment(c._1)).map {
      case (k, "Cpus.toString") => k -> cpus.toString
      case (k, literal(v)) => k -> v
      case (k, v) => fail(s"perfbench sets $k to a non-literal value $v")
    }
    assert(engine.toMap === Session.confs(cpus).toMap)
    assert(engine.size === Session.confs(cpus).size)
  }
}
