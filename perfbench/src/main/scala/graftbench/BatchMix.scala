package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.graftbench.BusShim
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** The batch workloads: fixed lists of registered queries, run through
  * `SparkEntry.queries(name)(spark, dir)` and `.count()`. A warm-up
  * pass runs every query once and checks its content hash; untimed
  * settle passes, then timed passes, repeat the list in an order drawn
  * from the seed and check each result's row count. */
object BatchMix {
  /** A workload's queries, and the fewest timed passes it runs, so that
    * each query's median has at least that many samples. */
  final case class Mix(queries: Seq[String], minPasses: Int)

  /** Untimed serial passes between the warm-up and the timed passes. */
  val SettleSeconds = 10

  val workloads: Map[String, Mix] = Map(
    // read-only queries whose warm run is well under a second: fixed
    // cost per query (planning, graft's rules, job submission) dominates
    "batch_short" -> Mix(Seq(
      "ref_json_ingest", "ref_interval_join", "ref_timestamp_to_string",
      "q1_agg", "q3_join_broadcast", "q7_window_rank", "q14_grouping_sets",
      "a1_approx_agg", "a9_hll", "t1_tumble", "p1_profile"), minPasses = 3),
    // read-only multi-job operators: graph rounds, ANN trained in the
    // query and dedup run eager jobs inside the query body
    "batch_iterative" -> Mix(Seq("g2_pagerank", "s9_ann_ivfpq", "d20_typo_pairs"), minPasses = 1),
    // queries that commit to a catalog table or an index
    "table_write" -> Mix(Seq(
      "f22_sql_delete", "f25_sql_optimize", "f26_sql_vacuum", "x28_index_delete"), minPasses = 1))

  /** Expected (rows, content hash) per query; hash "-" = rows only. */
  def expected(path: String): Map[String, (Long, Option[String])] =
    scala.io.Source.fromFile(path).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> ((f(1).toLong, Some(f(2)).filter(_ != "-")))).toMap

  /** Seeded order of one pass: pass 0 is the warm-up. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(a: Main.Args, mix: Mix): Main.Result = {
    val r = new Main.Result
    val exp = expected(a.expected)
    mix.queries.filterNot(exp.contains).foreach(q => throw new IllegalStateException(s"no expected value for $q"))
    val (spark, _, setupSecs, sessionMs) = Main.setUp(a) { s =>
      Tables.registerAll(s, a.data)
    } { (_, _) => () }
    r.e2e("setup_s") = Out.median(setupSecs)
    r.detail("setup_s") = setupSecs
    r.layers("session.build_ms") = Out.median(sessionMs)
    val rec = if (a.trace) Some(new Recorder) else None
    rec.foreach { x => spark.sparkContext.addSparkListener(x); spark.listenerManager.register(x) }
    val dataDirs = Seq(new File(a.work, "tmp"), new File(a.work, "warehouse"))

    val ops = mutable.ArrayBuffer.empty[Op]
    /** Run one query: the warm-up collects it and checks its content
      * hash, later passes count it and check its rows; only timed
      * operations are recorded and enter the figures. */
    def runOp(name: String, timed: Boolean, warmUp: Boolean = false): Op = {
      val op = ops.synchronized { val o = new Op(ops.size + 1, name, timed); ops += o; o }
      if (timed) rec.foreach(_.current = op.group)
      spark.sparkContext.setJobGroup(op.group, name, interruptOnCancel = false)
      op.start = Clock.now
      try {
        val df = SparkEntry.queries(name)(spark, a.data)
        op.buildEnd = Clock.now
        if (!warmUp) op.rows = df.count()
        else {
          val rows = df.collect()
          op.rows = rows.length
          val (_, hash) = exp(name)
          val got = Canon.hash(df.columns.toSeq, rows.iterator)
          if (hash.exists(_ != got)) op.error = Some(s"content hash $got, expected ${hash.get}")
        }
        op.end = Clock.now
        if (op.error.isEmpty && op.rows != exp(name)._1)
          op.error = Some(s"${op.rows} rows, expected ${exp(name)._1}")
      } catch {
        case e: Throwable =>
          op.end = Clock.now
          if (op.buildEnd == 0.0) op.buildEnd = op.end
          op.error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      spark.sparkContext.clearJobGroup()
      if (timed && rec.isDefined) {
        BusShim.drain(spark.sparkContext)
        rec.get.current = "none"
        val (files, bytes) = DataDirs.writtenSince(dataDirs, op.start.toLong)
        op.filesWritten = files; op.bytesWritten = bytes
      }
      r.synchronized {
        r.attempted += 1
        op.error.foreach(e => r.fail(s"$name${if (warmUp) " (warm-up)" else if (timed) "" else " (settle)"}: $e"))
      }
      op
    }

    // Warm-up: every query once, its content checked. The queries are
    // independent (each writes only its own directories and tables), so
    // they warm up side by side, one per core, which shortens the JVM's
    // cold start (class loading, code generation, JIT) several-fold.
    val warm0 = Clock.now
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    try {
      order(mix.queries, a.seed, 0).map(q => pool.submit(() => runOp(q, timed = false, warmUp = true)))
        .foreach(_.get())
    } finally pool.shutdown()
    r.detail("warmup_ms") = ops.map(o => o.name -> o.wallMs).toMap
    // Settle: untimed serial passes while the JIT and Spark's code caches
    // catch up with the warm-up; passes still speed up for the first
    // 10-20 s of serial running.
    var pass = 1
    val settle0 = Clock.now
    while (Clock.now - settle0 < SettleSeconds * 1000) {
      order(mix.queries, a.seed, pass).foreach(runOp(_, timed = false))
      pass += 1
    }
    r.layers("setup.warmup_s") = (Clock.now - warm0) / 1000.0
    r.layers("setup.first_s") = Main.sinceJvmStart()

    val passWall = mutable.ArrayBuffer.empty[Double]
    val dirBytes = mutable.ArrayBuffer.empty[Long]
    val t0 = Clock.now
    val firstTimed = pass
    while (pass < firstTimed + mix.minPasses || Clock.now - t0 < a.seconds * 1000) {
      val p0 = Clock.now
      order(mix.queries, a.seed, pass).foreach(runOp(_, timed = true))
      passWall += (Clock.now - p0) / 1000.0
      if (a.trace) dirBytes += DataDirs.bytesUnder(dataDirs)
      pass += 1
    }
    val timed = ops.filter(_.timed).toSeq
    val lat = timed.filter(_.error.isEmpty).map(_.wallMs)
    // Each query at its median over the timed passes. A median over all
    // executions mixes queries that differ several-fold, so it jumps
    // between them from run to run; it is kept as a per-layer figure.
    val perQuery = timed.filter(_.error.isEmpty).groupBy(_.name).values.map(xs => Out.median(xs.map(_.wallMs)))
    r.e2e("query_gmean_ms") = math.exp(perQuery.map(math.log).sum / math.max(1, perQuery.size))
    r.e2e("pass_wall_s") = perQuery.sum / 1000.0
    r.layers("latency.p50_ms") = Out.median(lat)
    Out.supportedPercentile(lat.size).foreach { p =>
      r.layers("latency.tail_ms") = Out.quantile(lat, p / 100.0)
      r.layers("latency.tail_pct") = p.toDouble
    }
    r.layers("latency.samples") = lat.size.toDouble
    r.detail("passes") = passWall.size
    r.detail("pass_wall_s") = passWall.toSeq
    r.detail("query_ms") = timed.groupBy(_.name).map { case (n, xs) => n -> Out.median(xs.map(_.wallMs)) }
    rec.foreach { x =>
      Layers.batch(x, timed, a.cores, r)
      r.layers("sources.dir_bytes_end") = dirBytes.lastOption.getOrElse(0L).toDouble
      r.detail("dir_bytes_per_pass") = dirBytes.toSeq
      r.spans = x.spans(timed, Nil, None)
    }
    r
  }
}

/** Files the workloads write: table and index directories. */
object DataDirs {
  private def walk(dirs: Seq[File]): Iterator[File] = dirs.iterator.filter(_.exists).flatMap { d =>
    val st = mutable.Stack(d)
    Iterator.continually(if (st.isEmpty) null else st.pop()).takeWhile(_ != null).flatMap { f =>
      if (f.isDirectory) {
        Option(f.listFiles).getOrElse(Array.empty).filterNot(skip).foreach(st.push)
        Iterator.empty
      } else Iterator.single(f)
    }
  }
  /** Spark's own scratch (block manager, shuffle) is not table data. */
  private def skip(f: File): Boolean = {
    val n = f.getName
    n.startsWith("spark-") || n.startsWith("blockmgr-") || n.startsWith("librocksdbjni")
  }
  def writtenSince(dirs: Seq[File], sinceMs: Long): (Long, Long) = {
    var files, bytes = 0L
    walk(dirs).foreach { f => if (f.lastModified >= sinceMs) { files += 1; bytes += f.length } }
    (files, bytes)
  }
  def bytesUnder(dirs: Seq[File]): Long = walk(dirs).map(_.length).sum
}
