package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Parquet loaders for the test corpus (TPC-H-ish star schema +
  * `events` stream table + `documents`/`embeddings` LLM-pipeline
  * tables). Loading is schema-on-read from parquet footers so Catalyst
  * gets exact types and can push filters/projections into the scan.
  *
  * Each table resolves once per session: `spark.read.parquet` looks the
  * data source up, lists the files and runs parquet schema inference
  * (one Spark job, however small the footer), which made up most of a
  * short query's fixed cost. The resolved `HadoopFsRelation` is kept
  * per session, keyed by the qualified path and fingerprinted by the
  * name, length and modification time of every file `listStatus`
  * returns for it; later loads wrap it in a fresh `LogicalRelation`
  * (new attribute ids, so two loads still self-join). A rewritten file
  * changes the fingerprint and resolves again; a path whose listing
  * holds a directory is never kept, since one listing cannot see the
  * files below it. A session's entries are dropped when its context
  * stops: the relations hold the session, so keying the memo weakly on
  * the session would not let it go.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Resolved(fingerprint: Seq[(String, Long, Long)],
      relation: HadoopFsRelation)

  private val resolved =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]()

  private def memoOf(spark: SparkSession): ConcurrentHashMap[String, Resolved] =
    resolved.computeIfAbsent(spark, { s =>
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          resolved.remove(s)
      })
      new ConcurrentHashMap[String, Resolved]()
    })

  /** Sessions the memo holds entries for (for specs). */
  private[graft] def sessionsHeld: Int = resolved.size

  /** `path` as a DataFrame over its memoized relation, resolving it
    * with `spark.read.parquet` when the session has none for the
    * path's current files. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p).toString
    val listing = fs.listStatus(p)
    val fingerprint = listing.toSeq.map(f =>
      (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
    val memo = memoOf(spark)
    val relation = Option(memo.get(qualified))
      .filter(_.fingerprint == fingerprint).map(_.relation).getOrElse {
        val rel = spark.read.parquet(path).queryExecution.analyzed.collectFirst {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
        }.get
        if (listing.forall(_.isFile)) memo.put(qualified, Resolved(fingerprint, rel))
        rel
      }
    spark.baseRelationToDataFrame(relation)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (which Spark's
      // parquet reader rejects — read the raw int64 and truncate to
      // microseconds, identical to DuckDB's ns->us cast) and as plain
      // timestamp[us] (read as NTZ — align it to the session-UTC
      // TimestampType every downstream consumer and oracle expects).
      // Dispatch on the footer type so both generations load.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = parquet(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else {
      parquet(spark, s"$dir/$name.parquet")
    }
  }

  /** Register every table as a temp view so `spark.sql` works. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
