package graftbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.graftbench.BusShim
import org.apache.spark.sql.{Encoders, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.OrderEnrichmentJob
import graft.streaming.OrderEnrichmentJob.MemorySource

/** `stream_ref`: the reference job as deployed, through
  * `OrderEnrichmentJob.runFromSources` with two raw-JSON MemorySources,
  * a JSON-lines text sink, a checkpoint on local disk and
  * `Trigger.ProcessingTime(0)`.
  *
  *  - Phase (a), open loop: one generator thread adds 200 orders every
  *    100 ms (2,000 orders/s) on a fixed schedule that does not wait for
  *    the query, plus one rate per currency per second over 5
  *    currencies; about 5% of orders are out of order by up to 2 s. A
  *    tick's latency runs from its due time to the end of the first
  *    micro-batch whose committed orders offset covers it.
  *  - Phase (b), closed loop: the rates of the next span are committed,
  *    then a fixed backlog of orders over that span is added at once and
  *    timed until committed, repeatedly.
  *  - Then a heartbeat pair far ahead in event time moves the watermark
  *    past every order, and the sink must equal a plain-Scala 5 s left
  *    interval join over everything generated.
  */
object StreamRef {
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z, event time of tick 0
  val TickMs = 100
  val OrdersPerTick = 200
  val Currencies: Array[String] = Array("EUR", "USD", "GBP", "AUD", "CAD")
  val LateShare = 0.05
  val LateMaxMs = 2000
  val DeltaMs = 5000L
  val DrainOrders = 10000
  val MinDrains = 3
  val PrerollSeconds = 10

  final case class Order(id: Int, t: Long, amount: Int, cur: String)
  final case class Rate(t: Long, cur: String, rate: Int)

  /** Seeded event generator; keeps every event for the output check. */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var nextId = 1
    val orders = mutable.ArrayBuffer.empty[Order]
    val rates = mutable.ArrayBuffer.empty[Rate]

    /** `n` orders spread over [from, from + spanMs). */
    def orderBatch(from: Long, n: Int, spanMs: Long): Seq[String] = (0 until n).map { i =>
      var t = from + i * spanMs / n
      if (rnd.nextDouble() < LateShare) t -= rnd.nextInt(LateMaxMs + 1)
      val o = Order(nextId, t, 1 + rnd.nextInt(1000), Currencies(rnd.nextInt(Currencies.length)))
      nextId += 1
      orders += o
      orderJson(o)
    }
    /** One rate per currency at event second `sec` (relative to T0). */
    def rateBatch(sec: Long): Seq[String] = Currencies.toSeq.map { c =>
      val r = Rate(T0 + sec * 1000, c, 1 + rnd.nextInt(100))
      rates += r
      rateJson(r)
    }
  }

  def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString
  def orderJson(o: Order): String =
    s"""{"id":${o.id},"orderTime":"${iso(o.t)}","amount":${o.amount},"currency":"${o.cur}"}"""
  def rateJson(r: Rate): String =
    s"""{"exchangeRateTime":"${iso(r.t)}","currency":"${r.cur}","rate":${r.rate}}"""

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  /** The reference query evaluated directly: each order joined with
    * every rate of its currency in (orderTime - 5 s, orderTime], or one
    * row without rate fields when there is none. */
  def expected(orders: Seq[Order], rates: Seq[Rate]): Seq[String] = {
    val byCur = rates.groupBy(_.cur).map { case (c, rs) => c -> rs.sortBy(_.t) }
    orders.flatMap { o =>
      val ot = Fmt.format(Instant.ofEpochMilli(o.t))
      val head = s"""{"id":${o.id},"order_time":"$ot","original_amount":${o.amount}"""
      val hits = byCur.getOrElse(o.cur, Nil).filter(r => r.t <= o.t && r.t > o.t - DeltaMs)
      if (hits.isEmpty) Seq(head + "}")
      else hits.map(r => head +
        s""","converted_amount":${o.amount * r.rate},"rate_time":"${Fmt.format(Instant.ofEpochMilli(r.t))}"}""")
    }
  }

  final class Running(val orders: MemoryStream[String], val rates: MemoryStream[String],
      val query: StreamingQuery, val gen: Gen, val log: ProgressLog, val out: File)

  private def start(spark: SparkSession, a: Main.Args, i: Int): Running = {
    implicit val ctx: SQLContext = spark.sqlContext
    val orders = MemoryStream[String](Encoders.STRING, ctx)
    val rates = MemoryStream[String](Encoders.STRING, ctx)
    val log = new ProgressLog(() => orders.toString, () => rates.toString)
    spark.streams.addListener(log)
    val dir = new File(a.work, s"stream-$i")
    val out = new File(dir, "out")
    val q = OrderEnrichmentJob.runFromSources(spark,
      MemorySource(orders.toDF().toDF("value")), MemorySource(rates.toDF().toDF("value")),
      out.getPath, new File(dir, "checkpoint").getPath, trigger = Trigger.ProcessingTime(0L))
    // pre-roll: rates for the 10 s before tick 0 and one tick of orders,
    // so every generated order has rates to find
    val gen = new Gen(a.seed)
    (-PrerollSeconds until 0).foreach(s => rates.addData(gen.rateBatch(s)))
    orders.addData(gen.orderBatch(T0 - 1000, OrdersPerTick, TickMs))
    q.processAllAvailable()
    new Running(orders, rates, q, gen, log, out)
  }

  /** Wait until a micro-batch has committed offset `off` of the source
    * `end` reads; returns that batch, or None after `timeoutMs`. */
  private def awaitCommit(run: Running, off: Long, timeoutMs: Double,
      end: StreamBatch => Long = _.ordersEnd): Option[StreamBatch] = {
    val deadline = Clock.now + timeoutMs
    while (Clock.now < deadline) {
      run.log.all.find(end(_) >= off).foreach(b => return Some(b))
      if (run.query.exception.isDefined) return None
      Thread.sleep(2)
    }
    None
  }

  def run(a: Main.Args): Main.Result = {
    val r = new Main.Result
    var setups = 0
    val (spark, running, setupSecs, sessionMs) = Main.setUp(a) { s =>
      setups += 1
      start(s, a, setups)
    } { (s, run) =>
      run.query.stop()
      s.streams.removeListener(run.log)
    }
    r.e2e("setup_s") = Out.median(setupSecs)
    r.detail("setup_s") = setupSecs
    r.layers("session.build_ms") = Out.median(sessionMs)
    val rec = if (a.trace) Some(new Recorder) else None
    rec.foreach { x =>
      spark.sparkContext.addSparkListener(x)
      spark.listenerManager.register(x)
      x.alias(running.query.runId.toString, "graftbench-op-1")
    }
    val op = new Op(1, "stream_ref", timed = true)
    r.layers("setup.first_s") = Main.sinceJvmStart()

    // ---- phase (a): open loop -----------------------------------------
    val openMs = a.seconds * 1000 * 0.5
    val ticks = (openMs / TickMs).toInt
    val gen = running.gen
    final case class Tick(k: Int, due: Double, added: Double, offset: Long, rowsAfter: Long)
    val log = mutable.ArrayBuffer.empty[Tick]
    op.start = Clock.now
    val t0 = Clock.now + 50
    val firstBatch = running.log.all.lastOption.map(_.id + 1).getOrElse(0L)
    val generator = new Thread(() => {
      var rows = 0L
      for (k <- 0 until ticks) {
        val due = t0 + k * TickMs
        val wait = due - Clock.now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (k % (1000 / TickMs) == 0) running.rates.addData(gen.rateBatch(k / (1000 / TickMs)))
        val batch = gen.orderBatch(T0 + k.toLong * TickMs, OrdersPerTick, TickMs)
        val off = running.orders.addData(batch).json.toLong
        rows += OrdersPerTick
        log += Tick(k, due, Clock.now, off, rows)
      }
    }, "graftbench-generator")
    generator.start()
    generator.join()
    val openCommitted = awaitCommit(running, log.last.offset, 60000)
    r.attempted += ticks
    val latencies = log.toSeq.flatMap { t =>
      running.log.all.find(_.ordersEnd >= t.offset).map(b => b.end - t.due)
    }
    if (latencies.size < ticks) r.fail(s"${ticks - latencies.size} ticks never committed")
    val openEnd = openCommitted.map(_.id).getOrElse(Long.MaxValue)

    // ---- phase (b): closed-loop drains --------------------------------
    val drains = mutable.ArrayBuffer.empty[Double]
    var evSec = ticks.toLong / (1000 / TickMs)
    val drainSecs = DrainOrders / (OrdersPerTick * (1000 / TickMs))
    val phaseEnd = op.start + a.seconds * 1000
    while (drains.size < MinDrains || Clock.now < phaseEnd) {
      // the rate stream is live: the span's rates are committed before
      // the order backlog arrives at once
      val rateOff = running.rates.addData((evSec until evSec + drainSecs).flatMap(gen.rateBatch)).json.toLong
      if (awaitCommit(running, rateOff, 60000, _.ratesEnd).isEmpty) r.fail("drain rates never committed")
      val batch = gen.orderBatch(T0 + evSec * 1000, DrainOrders, drainSecs * 1000L)
      val added = Clock.now
      val off = running.orders.addData(batch).json.toLong
      r.attempted += 1
      awaitCommit(running, off, 60000) match {
        case Some(b) => drains += (b.end - added) / 1000.0
        case None => r.fail("drain never committed")
      }
      evSec += drainSecs
    }
    op.end = Clock.now

    // ---- flush and check ----------------------------------------------
    val hbT = T0 + (evSec + 60) * 1000
    // currencies no generated event uses, so neither heartbeat joins
    running.rates.addData(Seq(rateJson(Rate(hbT, "XXR", 1))))
    running.orders.addData(Seq(orderJson(Order(0, hbT, 1, "XXO"))))
    val finalWm = hbT - 10000
    def flushed = running.log.all.exists(b =>
      b.watermark.nonEmpty && Instant.parse(b.watermark).toEpochMilli >= finalWm)
    val flushDeadline = Clock.now + 60000
    while (Clock.now < flushDeadline && !flushed) Thread.sleep(5)
    running.query.processAllAvailable()
    running.query.stop()
    if (rec.isDefined) BusShim.drain(spark.sparkContext)
    r.attempted += 1
    val got = spark.read.text(running.out.getPath).collect().map(_.getString(0)).sorted
    val want = expected(gen.orders.toSeq, gen.rates.toSeq).sorted
    if (!got.sameElements(want)) {
      val miss = want.diff(got); val extra = got.diff(want)
      r.fail(s"sink output: ${got.length} lines, expected ${want.length}; " +
        s"missing e.g. ${miss.take(3).mkString(" ")}; unexpected e.g. ${extra.take(3).mkString(" ")}")
      // where the differences sit: counts by event second of the order
      // and of the rate, for the missing and the unexpected lines
      def bySecond(lines: Seq[String], key: String) = lines.groupBy { l =>
        val i = l.indexOf(key); if (i < 0) "none" else l.substring(i + key.length + 3, i + key.length + 22)
      }.map { case (k, v) => k -> v.size }.toSeq.sortBy(_._1)
      r.detail("sink_missing_by_order_second") = bySecond(miss.toSeq, "order_time").map(x => s"${x._1}=${x._2}")
      r.detail("sink_missing_by_rate_second") = bySecond(miss.toSeq, "rate_time").map(x => s"${x._1}=${x._2}")
      r.detail("sink_unexpected_by_order_second") = bySecond(extra.toSeq, "order_time").map(x => s"${x._1}=${x._2}")
      r.detail("batches") = running.log.all.map(b =>
        s"${b.id}:rows=${b.inputRows},orders=${b.ordersEnd},rates=${b.ratesEnd},wm=${b.watermark}")
    }

    // ---- metrics ------------------------------------------------------
    val batches = running.log.all.filter(b => b.id >= firstBatch && b.start <= op.end)
    val open = batches.filter(_.id <= openEnd)
    r.layers("latency.p50_ms") = Out.median(latencies)
    r.e2e("pass_wall_s") = Out.median(drains.toSeq)
    Out.supportedPercentile(latencies.size).foreach { p =>
      r.layers("latency.tail_ms") = Out.quantile(latencies, p / 100.0)
      r.layers("latency.tail_pct") = p.toDouble
    }
    r.layers("latency.samples") = latencies.size.toDouble
    r.layers("stream.drain_orders_per_s") = DrainOrders / Out.median(drains.toSeq)
    r.layers("stream.batches") = batches.size.toDouble
    r.layers("stream.data_batch_ratio") =
      batches.count(_.inputRows > 0).toDouble / math.max(1, batches.size)
    val data = batches.filter(_.inputRows > 0)
    r.layers("stream.rows_per_batch") = Out.mean(data.map(_.inputRows.toDouble))
    def ph(k: String) = Out.mean(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    r.layers("stream.planning_ms") = ph("queryPlanning")
    r.layers("stream.walcommit_ms") = ph("walCommit")
    r.layers("stream.commitoffsets_ms") = ph("commitOffsets")
    r.layers("stream.latestoffset_ms") = ph("latestOffset")
    r.layers("stream.addbatch_ms") = ph("addBatch")
    r.layers("stream.trigger_ms") = ph("triggerExecution")
    // backlog seen at each open-loop batch end: orders generated by then
    // minus orders the batch had committed
    val rowsAt = (off: Long) => log.filter(_.offset <= off).lastOption.map(_.rowsAfter).getOrElse(0L)
    r.layers("stream.backlog_rows_max") = open.map { b =>
      log.filter(_.added <= b.end).lastOption.map(_.rowsAfter).getOrElse(0L) - rowsAt(b.ordersEnd)
    }.foldLeft(0L)(math.max).toDouble
    r.layers("stream.gen_late_ms") = log.map(t => t.added - t.due).foldLeft(0.0)(math.max)
    val matched = got.iterator.filter(_.contains("\"converted_amount\""))
      .map(l => l.substring(6, l.indexOf(','))).toSet.size
    r.layers("stream.match_ratio") = matched.toDouble / math.max(1, gen.orders.size)
    r.layers("state.rows_total") = Out.mean(batches.map(_.stateRows.toDouble))
    r.layers("state.memory_bytes") = Out.mean(batches.map(_.stateMem.toDouble))
    r.layers("state.commit_ms") = Out.mean(batches.map(_.stateCommitMs.toDouble))
    r.layers("state.rows_dropped_by_watermark") = batches.map(_.droppedByWatermark).sum.toDouble
    r.detail("ticks") = ticks
    r.detail("drains_s") = drains.toSeq
    r.detail("orders") = gen.orders.size
    r.detail("output_lines") = got.length
    r.detail("latency_ms_quartiles") = Seq(0.25, 0.5, 0.75).map(Out.quantile(latencies, _))
    rec.foreach { x =>
      val (files, bytes) = DataDirs.writtenSince(Seq(running.out), op.start.toLong)
      op.filesWritten = files; op.bytesWritten = bytes
      Layers.stream(x, op, batches, a.cores, r)
      r.layers("sources.dir_bytes_end") = DataDirs.bytesUnder(Seq(running.out.getParentFile)).toDouble
      r.spans = x.spans(Nil, batches, Some(op))
    }
    r
  }
}
