package graft

/** Profiling / plan-audit main (not part of the driver contract):
  *  - `Profile <n> q <name1,name2,...>` runs each named query three times
  *    through [[Runner]] (Bench's loop: noop sink, GC before and pins
  *    released after each rep) and prints each rep's wall plus its stages
  *    whose slowest task took over 0.5 s or whose tasks summed over 2 s
  *    (task count, max, sum and GC seconds, stage name);
  *  - `Profile <n> explain <name1,name2,...> [suffix]` writes each named
  *    query's formatted plan to `<plans dir>/<name>_<suffix>.txt`.
  * `<n>` is unused. The session is [[Session.build]] at
  * `SPARK_GRAFT_CPUS` (default 4), the sf dir comes from
  * SPARK_GRAFT_SF_DIR (default sf0.1), the plans dir from
  * SPARK_GRAFT_PLANS_DIR (default plans/r21).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 1) args(1) else ""
    if (!Seq("q", "explain").contains(mode) || args.length < 3) {
      System.err.println("usage: Profile <n> q <name1,name2,...>\n" +
        "       Profile <n> explain <name1,name2,...> [suffix]")
      sys.exit(2)
    }
    val spark = Session.build(Session.cpus)
    val runner = new Runner(spark)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val picked = graft.SparkEntry.registry.filter(qq => names.exists(qq.name.contains))
    if (mode == "q") {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      picked.foreach { qq =>
        (1 to 3).foreach { i =>
          val r = runner(qq.impl(spark, sfDir).write.format("noop").mode("overwrite").save())
          r.result.left.foreach(throw _)
          println(f"${s"${qq.name} rep$i"}%-34s ${r.seconds}%8.2f s")
          r.stages.toSeq.sortBy(_._1).foreach { case (sid, c) =>
            if (c.maxTaskMs > 500 || c.sumTaskMs > 2000)
              println(f"  stage $sid%4d tasks=${c.tasks}%4d max=${c.maxTaskMs / 1000.0}%7.1fs " +
                f"sum=${c.sumTaskMs / 1000.0}%8.1fs gc=${c.gcMs / 1000.0}%8.1fs  ${c.name}")
          }
        }
      }
    } else {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r21")
      val suffix = if (args.length > 3) args(3) else "after"
      picked.foreach { qq =>
        val plan = qq.impl(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(plansDir, s"${qq.name}_$suffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, plan)
        println(s"wrote $p (${plan.length} chars)")
      }
    }
    spark.stop()
  }
}
