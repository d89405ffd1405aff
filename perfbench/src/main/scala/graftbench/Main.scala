package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness entry point; `run.py` builds and launches it.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sf dir> --expected <tsv> --work <dir> --out <dir> --cores <n>
  * graftbench.Main --dump-oracle <file>   (oracle SQL of the batch workloads' queries)
  * }}}
  *
  * Writes `<out>/result.json` (metrics, checks, canary) and, with
  * `--trace 1`, `<out>/spans.jsonl` and `<out>/rollup.txt`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: String, work: String, out: String, cores: Int)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  /** Result of one workload run, before rendering. */
  final class Result {
    var attempted, failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    var spans: Seq[Span] = Nil
    def fail(what: String): Unit = { failed += 1; failures += what }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracle") match {
      case Some(path) =>
        val used = BatchMix.workloads.values.flatMap(_.queries).toSet
        val body = graft.SparkEntry.oracleSql.toSeq.filter(q => used(q._1)).sortBy(_._1)
          .map { case (k, v) => Out.str(k) + ":" + Out.str(v) }.mkString("{\n", ",\n", "\n}\n")
        Files.write(Paths.get(path), body.getBytes(UTF_8))
        return
      case None =>
    }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("expected"), kv("work"), kv("out"), kv("cores").toInt)
    new File(a.out).mkdirs()
    val canaryBefore = Canary.sample()
    val r = a.workload match {
      case "stream_ref" => StreamRef.run(a)
      case w if BatchMix.workloads.contains(w) => BatchMix.run(a, BatchMix.workloads(w))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val canaryAfter = Canary.sample()
    r.layers("memory.peak_rss_mb") = peakRssMb()
    r.layers("host.canary_ms") = math.min(canaryBefore, canaryAfter)
    r.layers("host.canary_ratio") = math.max(canaryBefore, canaryAfter) / math.min(canaryBefore, canaryAfter)
    r.layers("bench.failed_ratio") = r.failed.toDouble / math.max(1L, r.attempted)
    r.detail("canary_ms") = Seq(canaryBefore, canaryAfter)
    if (a.trace) { writeTrace(a, r); Layers.fill(r) }
    val res = Out.obj("workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "attempted" -> r.attempted, "failed" -> r.failed, "failures" -> r.failures.take(50),
      "e2e" -> r.e2e, "layers" -> r.layers, "detail" -> r.detail)
    Files.write(Paths.get(a.out, "result.json"), (Out.json(res) + "\n").getBytes(UTF_8))
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def buildSession(cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set the workload up `Setups` times, each time from a fresh session,
    * and keep the last. Returns the kept session and state, and each
    * set-up's seconds and session-build milliseconds. */
  def setUp[T](a: Args)(prep: SparkSession => T)(teardown: (SparkSession, T) => Unit): (SparkSession, T, Seq[Double], Seq[Double]) = {
    val secs = mutable.ArrayBuffer.empty[Double]
    val sessionMs = mutable.ArrayBuffer.empty[Double]
    var kept: (SparkSession, T) = null
    for (i <- 1 to Setups) {
      val t0 = Clock.now
      val s = buildSession(a.cores)
      sessionMs += Clock.now - t0
      val st = prep(s)
      secs += (Clock.now - t0) / 1000.0
      if (i < Setups) { teardown(s, st); stopSession(s) } else kept = (s, st)
    }
    (kept._1, kept._2, secs.toSeq, sessionMs.toSeq)
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def writeTrace(a: Args, r: Result): Unit = {
    val sb = new StringBuilder
    r.spans.foreach { s =>
      sb ++= Out.json(Out.obj("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end)) += '\n'
    }
    Files.write(Paths.get(a.out, "spans.jsonl"), sb.toString.getBytes(UTF_8))
    val roots = r.spans.filter(_.parent == 0)
    val base = roots.map(s => s.end - s.start).sum
    val rows = Recorder.rollup(r.spans)
    val t = new StringBuilder
    t ++= s"# ${a.workload} seed ${a.seed}: self time by layer over ${roots.size} root spans\n"
    t ++= f"# base of every share: $base%.1f ms, the summed wall time of the root spans\n"
    t ++= f"${"layer"}%-26s ${"spans"}%7s ${"total_ms"}%12s ${"self_ms"}%12s ${"self_share"}%10s\n"
    rows.foreach { case (layer, n, total, self) =>
      t ++= f"$layer%-26s $n%7d $total%12.1f $self%12.1f ${if (base > 0) self / base else 0.0}%10.4f\n"
    }
    Files.write(Paths.get(a.out, "rollup.txt"), t.toString.getBytes(UTF_8))
    r.layers("trace.spans") = r.spans.size.toDouble
  }
}

/** Host-noise guard: a fixed, single-threaded, allocation-free
  * splitmix64 spin. Only the host can slow it, so it brackets each run
  * and is recorded with the run's figures. */
object Canary {
  @volatile private var sink = 0L
  private def once(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      x ^= z ^ (z >>> 31)
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }
  /** Best of two back to back, in ms. */
  def sample(): Double = math.min(once(), once())
}
