package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SparkShims
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.load` resolves each table once per session: a later load of
  * unchanged files reuses the resolved relation and starts no Spark job
  * (no parquet schema inference), two loads still self-join, a
  * rewritten file resolves again, and a stopped session's entries go. */
class TablesSpec extends AnyFunSuite {
  private var session: Option[SparkSession] = None
  private def spark: SparkSession = session.getOrElse {
    session = Some(GraftSession.local(4)); session.get
  }

  private def jobsDuring(body: => Unit): Int = {
    SparkShims.drainListenerBus(spark)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; SparkShims.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  /** Writes `customer.parquet` under `dir` as ONE parquet file (the
    * corpus layout), replacing any file already there. */
  private def writeCustomers(dir: File, n: Int): Unit = {
    val s = spark
    import s.implicits._
    val staged = Files.createTempDirectory("tables-stage").toFile
    (1 to n).map(i => (i.toLong, s"Customer#$i")).toDF("c_custkey", "c_name")
      .coalesce(1).write.mode("overwrite").parquet(staged.getPath)
    val part = staged.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, "customer.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def corpus(n: Int): File = {
    val dir = Files.createTempDirectory("tables").toFile
    writeCustomers(dir, n)
    dir
  }

  test("a second load of the same table starts no Spark job") {
    val dir = corpus(20).getPath
    val first = jobsDuring(Tables.load(spark, dir, "customer"))
    assert(first >= 1, "test premise: the first load infers the schema")
    val second = jobsDuring(Tables.load(spark, dir, "customer"))
    assert(second == 0, s"a memoized load must not run a job, ran $second")
    assert(Tables.load(spark, dir, "customer").count() == 20)
  }

  test("two loads of one table self-join") {
    val dir = corpus(30).getPath
    val a = Tables.load(spark, dir, "customer")
    val b = Tables.load(spark, dir, "customer")
    assert(a.join(b, a("c_custkey") === b("c_custkey")).count() == 30)
  }

  test("a file rewritten at the same path loads its new rows") {
    val d = corpus(10)
    assert(Tables.load(spark, d.getPath, "customer").count() == 10)
    writeCustomers(d, 25)
    assert(Tables.load(spark, d.getPath, "customer").count() == 25)
  }

  test("a table written as a directory is resolved again after a rewrite") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("tables-dir").toString
    def write(n: Int): Unit = (1 to n).map(_.toLong).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    write(5)
    assert(Tables.load(spark, dir, "customer").count() == 5)
    write(8)
    assert(Tables.load(spark, dir, "customer").count() == 8)
  }

  test("after stop, a new session resolves again and the memo drops the old one") {
    val dir = corpus(12).getPath
    Tables.load(spark, dir, "customer")
    assert(Tables.sessionsHeld >= 1)
    spark.stop()
    assert(Tables.sessionsHeld == 0,
      "a stopped session's relations must leave the memo")
    session = None
    assert(jobsDuring(Tables.load(spark, dir, "customer")) >= 1,
      "a new session must infer the schema again")
    assert(Tables.load(spark, dir, "customer").count() == 12)
    assert(Tables.sessionsHeld == 1)
  }
}
