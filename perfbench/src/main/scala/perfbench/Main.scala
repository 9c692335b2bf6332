package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Q

/** The pass benchmark's JVM side. It drives the engine only through the
  * public query registry (`graft.SparkEntry.registry`): a single thread
  * builds each query's DataFrame and writes it to the `noop` sink, one
  * query at a time (a closed loop with a single client).
  *
  * {{{
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                    --data DIR --expected FILE --work DIR --out DIR
  * perfbench.Main generate --data DIR --expected FILE --work DIR
  * }}}
  * `run` prints one line per metric, then the result as one JSON line;
  * `generate` writes the expected output digests of every workload query.
  */
object Main {
  private val Cpus = 4
  private val Setups = 3
  private val MinWarmPasses = 2
  private val MiB = 1024.0 * 1024.0

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def path(k: String): Path = Paths.get(apply(k)).toAbsolutePath
  }

  def parse(args: Seq[String]): Opts = Opts(args.grouped(2).map {
    case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }.toMap)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    args.headOption match {
      case Some("run") => run(parse(args.toSeq.tail), t0)
      case Some("generate") => generate(parse(args.toSeq.tail))
      case _ =>
        System.err.println("usage: perfbench.Main run|generate --option value ...")
        sys.exit(2)
    }
  }

  /** The session every benchmark query runs in; the configuration is
    * `graft.Bench`'s, at `local[4]`, with all files inside `work`.
    */
  def session(work: Path, data: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    val t = System.nanoTime()
    // graft.Bench's warm-up: scan, decimal-exact agg, window, broadcast join
    val li = spark.read.parquet(s"$data/lineitem.parquet").limit(5000)
    val agg = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), graft.ops.Exact.dsum(col("l_quantity")).as("s"))
    agg.withColumn("rnk", row_number().over(Window.partitionBy("l_returnflag").orderBy("n")))
      .join(broadcast(agg.select(col("l_returnflag"), col("n").as("n2"))), "l_returnflag")
      .write.format("noop").mode("overwrite").save()
    System.err.println(f"[perfbench] warm-up query ${(System.nanoTime() - t) / 1e9}%.3f s")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One timed query execution. */
  final case class Exec(pass: Int, member: Member, seconds: Option[Double],
                        retainedMiB: Double)

  def run(o: Opts, t0: Long): Unit = {
    val workload = Workloads(o("workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o.path("work")
    val order = Workloads.order(workload.members, seed)
    val queries = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val expected = Expected.read(o.path("expected"))
    val data = o.path("data")

    // set-up: session build, extensions and warm-up, several times
    val setups = mutable.ArrayBuffer.empty[Double]
    var start = t0
    var spark = session(work, data)
    setups += (System.nanoTime() - start) / 1e9
    while (setups.size < Setups) {
      stop(spark)
      start = System.nanoTime()
      spark = session(work, data)
      setups += (System.nanoTime() - start) / 1e9
    }
    val dataDir = data.toString

    val runId = f"${workload.name}-s$seed-${System.currentTimeMillis()}%x"
    val tr = new Tracer(runId)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val raw = mutable.ArrayBuffer.empty[(Int, Long, Int, Double, Counters)]
    var attempted = 0
    var failed = 0
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean

    // The output check, outside the timed regions: every query's output in
    // the first warm pass against its expected digest, and a rows-only
    // query's again in the second, where it must repeat the first digest.
    val digests = mutable.Map.empty[String, Digest]
    def check(m: Member, df: DataFrame, pass: Int): Unit = {
      val want = expected.get(m.name)
      if (pass == 1 || (pass == 2 && want.exists(_.rowsOnly))) {
        attempted += 1
        val got = try Some(Digest.of(df)) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] output check ${m.name} failed: $e")
            None
        }
        val ok = got.exists(d => want.exists(_.matches(d)) && digests.get(m.name).forall(_ == d))
        if (pass == 1) got.foreach(digests(m.name) = _)
        if (!ok) {
          failed += 1
          System.err.println(s"[perfbench] output check ${m.name} in pass $pass: got $got, want $want")
        }
      }
    }

    def execute(m: Member, pass: Int, passSpan: Long): Unit = {
      val q = queries(m.name)
      attempted += 1
      val c0 = tr.counters()
      var df: DataFrame = null
      val (qid, secs) = tr.span(passSpan, "query", m.name) { qid =>
        tr.queryStart(qid)
        val t = System.nanoTime()
        try {
          df = tr.span(qid, "build", m.name) { id =>
            tr.tag(spark, id)
            q.impl(spark, dataDir)
          }
          tr.span(qid, "exec", m.name) { id =>
            tr.tag(spark, id)
            df.write.format("noop").mode("overwrite").save()
          }
          (qid, Some((System.nanoTime() - t) / 1e9))
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] ${m.name} failed: $e")
            (qid, None)
        }
      }
      val c = tr.counters() - c0
      tr.queryEnd(spark)
      // the harness, outside the timed region: the output check, the heap
      // still used after a full GC with the query's pins alive, then the
      // release of those pins
      if (secs.isDefined) check(m, df, pass)
      System.gc()
      val retained = mem.getHeapMemoryUsage.getUsed / MiB
      val sc = spark.sparkContext
      val pinLeft = sc.getPersistentRDDs.size
      val pinMiB = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MiB
      release(spark)
      execs += Exec(pass, m, secs, retained)
      System.err.println(f"[perfbench] pass $pass ${m.name} ${secs.getOrElse(Double.NaN)}%.3f s")
      if (tr.active && secs.isDefined) raw += ((pass, qid, pinLeft, pinMiB, c))
    }

    def pass(n: Int, runSpan: Long): Double = {
      tr.span(runSpan, "pass", s"pass $n") { pid => order.foreach(execute(_, n, pid)) }
      execs.filter(e => e.pass == n).flatMap(_.seconds).sum
    }

    val tracedWalls, untracedWalls = mutable.ArrayBuffer.empty[Double]
    if (traced) tr.attach(spark)
    tr.span(0, "run", runId) { rid =>
      val measure0 = System.nanoTime()
      pass(0, rid)
      var n = 1
      // The traced run leaves the first warm pass untraced, then traces
      // warm passes in the pattern traced, untraced, untraced, traced, ...,
      // so the passes getting faster as the JIT warms up do not bias the
      // tracing overhead (traced against untraced passes from the second).
      val minPasses = if (traced) 2 * MinWarmPasses + 1 else MinWarmPasses
      while (n <= minPasses || (System.nanoTime() - measure0) / 1e9 < seconds) {
        val tracing = traced && n > 1 && Set(0, 3)((n - 2) % 4)
        if (traced && tracing != tr.active) {
          if (tracing) tr.attach(spark) else tr.detach(spark)
        }
        val wall = pass(n, rid)
        if (traced && n > 1) (if (tracing) tracedWalls else untracedWalls) += wall
        n += 1
      }
      if (tr.active) tr.detach(spark)
    }
    stop(spark)

    // end-to-end metrics, from the untraced warm passes
    val tracedPasses = raw.map(_._1).toSet
    val warm = execs.filter(e => e.pass > 0 && !tracedPasses(e.pass))
    val warmPasses = warm.groupBy(_.pass).values.map(_.toSeq).toSeq
    def passSum(es: Seq[Exec], p: Exec => Boolean) = es.filter(p).flatMap(_.seconds).sum
    val perQuery = warm.flatMap(_.seconds).toSeq
    val e2e = Seq(
      ("setup_s", Stats.median(setups.toSeq), "s", s"median of $Setups set-ups in one JVM; first ${fmt(setups.head)} s"),
      ("cold_pass_s", passSum(execs.toSeq, _.pass == 0), "s", "n=1"),
      ("warm_pass_s", Stats.median(warmPasses.map(passSum(_, _ => true))), "s", s"median, n=${warmPasses.size} passes"),
      ("read_pass_s", Stats.median(warmPasses.map(passSum(_, _.member.op == Read))), "s", s"median, n=${warmPasses.size} passes"),
      ("write_pass_s", Stats.median(warmPasses.map(passSum(_, _.member.op == Write))), "s", s"median, n=${warmPasses.size} passes"),
      ("query_p50_s", Stats.median(perQuery), "s", s"median, n=${perQuery.size} query runs" +
        Stats.tail(perQuery).fold("; too few for a tail") { case (p, v) => f"; tail p$p%.0f ${fmt(v)} s" }),
      ("retained_heap_mb", execs.map(_.retainedMiB).max, "MiB", s"max over ${execs.size} query ends"))

    val metricLines = mutable.ArrayBuffer.empty[(String, Double, String, String)]
    if (traced) {
      val ix = new Layers.Index(tr)
      val rows = raw.toSeq.map { case (pass, qid, pinLeft, pinMiB, c) =>
        val kids = ix.children(qid).map(s => s.kind -> s).toMap
        val q = QueryTrace(pass, ix.byId(qid), kids("build"), kids("exec"), pinLeft, pinMiB, c)
        q -> ix.layers(q, tr.plans(qid))
      }
      val out = o.path("out")
      Files.createDirectories(out)
      tr.write(out.resolve(s"$runId.spans.jsonl"))
      val queryLines = rows.map { case (q, l) =>
        s"""{"run":"$runId","pass":${q.pass},"query":"${q.query.name}",""" +
          Layers.metrics.map { case (m, _) => s""""$m":${l(m)}""" }.mkString(",") + "}"
      }
      Files.write(out.resolve(s"$runId.queries.jsonl"), queryLines.asJava)
      val report = Layers.report(workload.name, tr, ix, rows,
        tracedWalls.toSeq, untracedWalls.toSeq)
      Files.write(out.resolve(s"$runId.report.txt"), report.asJava)
      report.foreach(println)
      val warmTraced = rows.filter(_._1.pass > 0).groupBy(_._1.pass).values
        .map(ps => Layers.perPass(ps.map(_._2)))
      Layers.metrics.filterNot(m => Layers.traceOnly(m._1)).foreach { case (m, unit) =>
        val v = warmTraced.map(_(m)).toSeq
        metricLines += ((m, Stats.median(v), unit, s"per pass, median of ${v.size} traced warm passes"))
      }
    } else e2e.foreach(metricLines += _)

    // the traced run's end-to-end figures come from its untraced passes
    if (traced) e2e.foreach { case (n, v, u, note) => println(s"e2e $n ${fmt(v)} $u ($note)") }
    println(s"failed_frac ${fmt(failed.toDouble / attempted)} ($failed of $attempted query executions)")
    metricLines.foreach { case (n, v, u, note) => println(s"metric $n ${fmt(v)} $u ($note)") }
    val metricsJson = metricLines.map { case (n, v, u, _) =>
      s""""$n":{"value":$v,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}""")
  }

  /** Releases everything a query left persisted. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def fmt(v: Double): String = f"$v%.4f"

  /** Writes the expected digest of every workload query, in registration
    * order (index builders ahead of their readers).
    */
  def generate(o: Opts): Unit = {
    val spark = session(o.path("work"), o.path("data"))
    val dataDir = o.path("data").toString
    val wanted = Workloads.all.flatMap(_.members.map(_.name)).toSet
    val lines = graft.SparkEntry.registry.filter(q => wanted(q.name)).map { q =>
      val d = Digest.of(q.impl(spark, dataDir))
      release(spark)
      val e = Expected(q.name, q.oracle.isEmpty, d.rows, if (q.oracle.isEmpty) "-" else d.hash)
      System.err.println(s"[perfbench] ${e.line}")
      e.line
    }
    Files.write(o.path("expected"), (Expected.Header +: lines).asJava)
    stop(spark)
  }
}

/** One query's expected output: its row count, and unless the query is
  * rows-only (it has no oracle), its digest.
  */
final case class Expected(query: String, rowsOnly: Boolean, rows: Long, hash: String) {
  def matches(d: Digest): Boolean = d.rows == rows && (rowsOnly || d.hash == hash)
  def line: String = Seq(query, if (rowsOnly) "rows" else "digest", rows, hash).mkString("\t")
}

object Expected {
  val Header = "query\tcheck\trows\tdigest"

  def read(path: Path): Map[String, Expected] =
    Files.readAllLines(path).asScala.drop(1).filter(_.nonEmpty).map { l =>
      val Array(q, kind, rows, hash) = l.split("\t")
      q -> Expected(q, kind == "rows", rows.toLong, hash)
    }.toMap
}
