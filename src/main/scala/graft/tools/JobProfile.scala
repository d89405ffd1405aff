package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.SparkEntry

/** Per-JOB time attribution for a single SparkEntry query:
  * `runMain graft.tools.JobProfile <name> [sfDir]`.
  *
  * One warmup run, then three profiled runs. Each run reports its wall
  * time split into BUILD (the `SparkEntry.queries(name)` call: table
  * loads, eager operator jobs, planning) and ACTION (the `.count()`),
  * with the jobs each phase started; the best wall of the three is
  * printed last. The best run's jobs are listed with their phase, wall
  * time, description, and the DRIVER GAP before each (time since the
  * previous job ended — scheduling + planning + driver-side work).
  * The gap column is what separates "the cluster is computing" from
  * "the driver is planning/committing/listing" (optimization guide
  * §7.3); the job column localizes which action dominates a multi-job
  * operator pipeline.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, phase: String, start: Long,
      var end: Long = 0L, var desc: String = "", var stages: Int = 0,
      var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val lock = new Object
    val PhaseKey = "graft.profile.phase"
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lock.synchronized {
          val props = Option(e.properties)
          val d = props
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("") + " | " +
            e.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
              .mkString("; ").take(120)
          jobs(e.jobId) = J(e.jobId,
            props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("?"),
            e.time, desc = d, stages = e.stageInfos.size,
            tasks = e.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized {
          jobs.get(e.jobId).foreach(_.end = e.time)
        }
    })
    def drain(): Unit =
      org.apache.spark.sql.graftshim.SparkShims.drainListenerBus(spark)
    final case class Run(wall: Double, build: Double, rows: Long, js: Vector[J])
    /** One run; every job it starts is tagged with the phase that
      * started it (Spark hands local properties to the threads a query
      * spawns). */
    def run(): Run = {
      val sc = spark.sparkContext
      drain()
      lock.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "build")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tb = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "action")
      val n = try df.count() finally sc.setLocalProperty(PhaseKey, null)
      val t1 = System.nanoTime()
      drain()
      Run((t1 - t0) / 1e9, (tb - t0) / 1e9, n,
        lock.synchronized(jobs.values.toVector).sortBy(_.start))
    }

    run() // warmup (codegen, JIT, footer caches) — same discipline as Bench
    val runs = Vector.fill(3)(run())
    runs.zipWithIndex.foreach { case (r, i) =>
      val (b, a) = r.js.partition(_.phase == "build")
      println(f"[profile] $name%s run ${i + 1}: wall ${r.wall}%.3f s = " +
        f"build ${r.build}%.3f s (${b.size} jobs) + action " +
        f"${r.wall - r.build}%.3f s (${a.size} jobs), ${r.rows} rows")
    }
    val best = runs.minBy(_.wall)
    val js = best.js
    println(f"[profile] $name%s: best wall ${best.wall}%.3f s of 3, " +
      f"${best.rows} rows, ${js.size} jobs")
    println(f"${"job"}%5s ${"phase"}%-6s ${"gap_ms"}%8s ${"run_ms"}%8s " +
      f"${"stg"}%4s ${"tasks"}%6s  description")
    // listener event times are System.currentTimeMillis-based; base
    // the first gap on the first job's start
    var prevEnd = js.headOption.map(_.start).getOrElse(0L)
    var runSum = 0L; var gapSum = 0L
    js.foreach { j =>
      val gap = math.max(0L, j.start - prevEnd)
      val run = math.max(0L, j.end - j.start)
      gapSum += gap; runSum += run
      prevEnd = math.max(prevEnd, j.end)
      val d = if (j.desc.length > 80) j.desc.take(77) + "..." else j.desc
      println(f"${j.id}%5d ${j.phase}%-6s $gap%8d $run%8d ${j.stages}%4d " +
        f"${j.tasks}%6d  $d")
    }
    println(f"[profile] sum(run) ${runSum / 1000.0}%.2f s, " +
      f"sum(gaps between jobs) ${gapSum / 1000.0}%.2f s " +
      f"(wall also includes pre-first-job planning)")
    spark.stop()
  }
}
