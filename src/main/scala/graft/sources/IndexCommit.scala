package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

import scala.util.matching.Regex

/** The generation-commit protocol of the materialized indexes
  * ([[TextIndex]], [[GramIndex]], [[VectorIndex]]): one owner for the
  * one on-disk format they share. Under an index root `path`:
  *
  *  - the FLAT layout `build` writes straight under `path` (`flat`
  *    names its entries);
  *  - `gen-<g>/` + `commit-<g>`: a compacted generation, live once its
  *    marker exists. Readers resolve the highest committed generation
  *    ([[root]]), or the flat layout before the first compaction;
  *  - `tomb-<seq>/ids` + `deleted-<seq>`: a tombstone batch of `key`
  *    ids, anti-joined by every read until a compaction folds it;
  *  - `batch-<id>/` + `applied-<id>`: an exactly-once streaming batch,
  *    keyed by the stream's batch id (the idempotent-sink discipline of
  *    Structured Streaming) and scoped by the run id in `_runid`;
  *  - `served/batch-<id>/`: standing-query refreshes.
  *
  * Every commit is ONE atomic empty-file create after the data is
  * staged — no renames, so it is object-store safe. Each index's stats
  * row records two fold watermarks: `foldedThrough` (highest batch id
  * folded into the live root) and `tombFolded` (highest tombstone seq
  * folded). A compaction supersedes state with one round of GRACE: what
  * it replaces stays on disk for readers that resolved the old root,
  * and the NEXT compaction sweeps it. The sweep deletes each dir before
  * its marker, so a crash mid-sweep leaves at most a marker below a
  * watermark — which no reader consults and the next sweep removes. */
private[graft] final class IndexCommit(flat: Seq[String], key: String) {
  import IndexCommit._

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markers(spark: SparkSession, path: String,
      marker: Regex): Seq[Long] = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case marker(n) => n.toLong }.sorted
  }

  /** Max committed generation, None for the flat layout. */
  def liveGeneration(spark: SparkSession, path: String): Option[Long] =
    markers(spark, path, GenMarker).lastOption

  /** The live root: `gen-<max committed>`, or `path` pre-compaction. */
  def root(spark: SparkSession, path: String): String =
    liveGeneration(spark, path).map(g => s"$path/gen-$g").getOrElse(path)

  /** Streaming batch ids whose `applied-<id>` marker exists. */
  def committedBatches(spark: SparkSession, path: String): Seq[Long] =
    markers(spark, path, AppliedMarker)

  /** Tombstone batch seqs whose `deleted-<seq>` marker exists. */
  def committedTombs(spark: SparkSession, path: String): Seq[Long] =
    markers(spark, path, TombMarker)

  /** `batch-<id>/<sub>` of every committed batch past `foldedThrough`
    * that staged one (an empty batch stages no data). */
  def batchDirs(spark: SparkSession, path: String, foldedThrough: Long,
      sub: String): Seq[String] = {
    val fs = fsOf(spark, path)
    committedBatches(spark, path).filter(_ > foldedThrough)
      .map(id => s"$path/batch-$id/$sub")
      .filter(d => fs.exists(new Path(d)))
  }

  /** REBUILD clear: generations, batches, tombstones, the run-id guard,
    * served refreshes and the flat layout all describe the old life, and
    * a leftover marker would shadow the fresh build. Markers go first,
    * so an interrupted clear never leaves a marker over a missing dir. */
  def clear(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (fs.exists(p)) {
      val (marks, rest) = fs.listStatus(p).toSeq.map(_.getPath)
        .partition(e => Marker.matches(e.getName))
      marks.foreach(fs.delete(_, false))
      rest.map(_.getName)
        .filter(n => Staged.matches(n) || Owned(n) || flat.contains(n))
        .foreach(n => fs.delete(new Path(p, n), true))
    }
  }

  // ---- tombstones ----------------------------------------------------

  /** TAKEDOWN in O(ids) IO: stage `ids`' first column as `key` into
    * `tomb-<seq>/ids`, then commit with one `deleted-<seq>` create.
    * Deleting an absent id is a no-op by construction. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      tombFolded: Long): Unit = {
    val fs = fsOf(spark, path)
    // monotone past the fold watermark: once a sweep reclaims folded
    // tombstones, a fresh delete must not reuse a seq ≤ tombFolded —
    // reads would treat it as already folded and serve the ids
    val seq = (committedTombs(spark, path) :+ tombFolded).max + 1
    fs.delete(new Path(s"$path/tomb-$seq"), true) // crashed-attempt orphan
    ids.select(col(ids.columns.head).cast("long").as(key)).distinct()
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/tomb-$seq/ids")
    require(fs.createNewFile(new Path(path, s"deleted-$seq")),
      s"delete: marker create failed under $path")
  }

  /** Union of the committed tombstone ids past `tombFolded`. */
  def tombIds(spark: SparkSession, path: String,
      tombFolded: Long): Option[DataFrame] =
    tombIdsOf(spark, path, committedTombs(spark, path).filter(_ > tombFolded))

  private def tombIdsOf(spark: SparkSession, path: String,
      seqs: Seq[Long]): Option[DataFrame] =
    if (seqs.isEmpty) None
    else Some(seqs.map(s => spark.read.parquet(s"$path/tomb-$s/ids"))
      .reduce(_ unionByName _).distinct())

  /** `df` minus `tombs` (a tiny broadcast anti-join on `key`). */
  private def minusTombs(df: DataFrame, tombs: Option[DataFrame]): DataFrame =
    tombs.fold(df)(t => df.join(broadcast(t), Seq(key), "left_anti"))

  /** `df` minus the unfolded tombstones — deletes are visible from the
    * marker on, before any compaction rewrites a file. */
  def dropTombstoned(spark: SparkSession, path: String, tombFolded: Long,
      df: DataFrame): DataFrame =
    minusTombs(df, tombIds(spark, path, tombFolded))

  // ---- exactly-once streaming ----------------------------------------

  /** EXACTLY-ONCE ingest of micro-batch `batchId`: `stage` writes the
    * batch into its `batch-<id>` dir (cleared first, so a replay of a
    * half-written batch rewrites it), and one `applied-<id>` create
    * commits it. A replay of a committed batch — marker present, or at
    * or below `foldedThrough` once compaction swept the marker —
    * returns without touching anything.
    *
    * Batch ids are scoped to ONE checkpoint: a maintainer restarted on
    * a FRESH checkpoint restarts ids at 0, and the replay check would
    * silently drop its batches. A non-empty `runId` is recorded in
    * `_runid`; a different one fails loudly once the index has stream
    * history — keep the checkpoint, or rebuild the index. */
  def appendBatch(spark: SparkSession, path: String, batchId: Long,
      runId: String, foldedThrough: Long)(stage: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    if (runId.nonEmpty) {
      val runFile = new Path(path, RunIdFile)
      val recorded =
        if (!fs.exists(runFile)) None
        else {
          val in = fs.open(runFile)
          try Some(new String(in.readAllBytes(), "UTF-8").trim)
          finally in.close()
        }
      if (!recorded.contains(runId)) {
        if (recorded.nonEmpty && (committedBatches(spark, path).nonEmpty ||
            foldedThrough >= 0)) throw new IllegalStateException(
          s"appendBatch: run id changed under $path (new checkpoint " +
            "restarts batch ids at 0; its batches would be dropped as " +
            "replays). Reuse the original checkpoint or rebuild the index.")
        val out = fs.create(runFile, true)
        try out.write(runId.getBytes("UTF-8")) finally out.close()
      }
    }
    val marker = new Path(path, s"applied-$batchId")
    if (fs.exists(marker) || batchId <= foldedThrough) return
    val bdir = s"$path/batch-$batchId"
    fs.delete(new Path(bdir), true) // half-written replay debris
    stage(bdir)
    require(fs.createNewFile(marker),
      s"appendBatch: marker create failed for batch $batchId under $path")
  }

  /** STREAMING maintenance: each micro-batch goes to `append` (with its
    * id and the checkpoint's run id), every `compactEvery`-th batch
    * also to `compact`, and — when `serve` is given — its standing
    * answer lands under `served/batch-<id>` with Overwrite, so a
    * replayed batch rewrites identical rows (exactly-once serving).
    * Single maintainer per index path. */
  def maintainStream(input: DataFrame, path: String, checkpointDir: String,
      compactEvery: Int, append: (DataFrame, Long, String) => Unit,
      compact: SparkSession => Unit,
      serve: Option[SparkSession => DataFrame] = None): StreamingQuery =
    input.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        append(batch.toDF(), id, checkpointRunId(spark, checkpointDir))
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compact(spark)
        serve.foreach(answer => answer(spark)
          .withColumn("batch_id", lit(id))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$path/$ServedDir/batch-$id"))
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The latest served refresh of [[maintainStream]]. */
  def servedTopK(spark: SparkSession, path: String): DataFrame = {
    val served = new Path(path, ServedDir)
    val fs = fsOf(spark, path)
    require(fs.exists(served), s"nothing served yet under $path")
    val latest = fs.listStatus(served).toSeq.map(_.getPath.getName)
      .collect { case ServedBatch(n) => n.toLong }.max
    spark.read.parquet(s"$path/$ServedDir/batch-$latest")
  }

  // ---- compaction ----------------------------------------------------

  /** COMPACTION: `write` stages the next generation into `fold.genDir`
    * from the live root plus `fold.batches`, minus the tombstones
    * (`fold.minusTombs`), recording `fold`'s advanced watermarks in its
    * stats row. ONE `commit-<g>` create then switches every reader to
    * it. A crash before the marker leaves an orphan generation the next
    * attempt deletes. After the commit, the sweep removes only state a
    * PREVIOUS compaction superseded (older generations; batches and
    * tombstones at or below the pre-compaction watermarks; the flat
    * layout once a generation has served a round) — what THIS one
    * superseded waits a round for in-flight readers. */
  def compact(spark: SparkSession, path: String, foldedThrough: Long,
      tombFolded: Long)(write: Fold => Unit): Unit = {
    val fs = fsOf(spark, path)
    val prevGen = liveGeneration(spark, path)
    val nextGen = prevGen.fold(0L)(_ + 1)
    val genDir = s"$path/gen-$nextGen"
    fs.delete(new Path(genDir), true) // orphan of a crashed attempt
    val batches = committedBatches(spark, path).filter(_ > foldedThrough)
    val tombSeqs = committedTombs(spark, path).filter(_ > tombFolded)
    val tombs = tombIdsOf(spark, path, tombSeqs)
    write(Fold(genDir, batches, (foldedThrough +: batches).max,
      (tombFolded +: tombSeqs).max, minusTombs(_, tombs)))
    require(fs.createNewFile(new Path(path, s"commit-$nextGen")),
      s"compact: commit marker create failed under $path")
    def drop(dir: String, marker: Path): Unit = {
      fs.delete(new Path(path, dir), true)
      fs.delete(marker, false)
    }
    fs.listStatus(new Path(path)).map(_.getPath).sortBy(_.getName)
      .foreach { e =>
        e.getName match {
          case GenMarker(g) if prevGen.exists(g.toLong < _) =>
            drop(s"gen-$g", e)
          case AppliedMarker(b) if b.toLong <= foldedThrough =>
            drop(s"batch-$b", e)
          case TombMarker(t) if t.toLong <= tombFolded =>
            drop(s"tomb-$t", e)
          case _ => ()
        }
      }
    if (prevGen.nonEmpty) flat.foreach(e => fs.delete(new Path(path, e), true))
  }
}

private[graft] object IndexCommit {
  private val GenMarker = "commit-(\\d+)".r
  private val AppliedMarker = "applied-(\\d+)".r
  private val TombMarker = "deleted-(\\d+)".r
  private val Marker = "(?:commit|applied|deleted)-\\d+".r
  private val Staged = "(?:gen|batch|tomb)-\\d+".r
  private val ServedBatch = "batch-(\\d+)".r
  private val RunIdFile = "_runid"
  private val ServedDir = "served"
  private val Owned = Set(RunIdFile, ServedDir)

  /** What a compaction folds: the generation dir to stage, the
    * committed-unfolded batch ids, the watermarks the new stats row
    * records, and the anti-join of the tombstones being folded. */
  final case class Fold(genDir: String, batches: Seq[Long],
      foldedThrough: Long, tombFolded: Long,
      minusTombs: DataFrame => DataFrame)

  /** The checkpoint's query id — the true scope of a stream's batch id
    * sequence. Read from the `metadata` file the streaming engine
    * writes at start (present before batch 0 runs); it changes when a
    * checkpoint is wiped EVEN at the same path, which is exactly the
    * event that restarts batch ids. Falls back to the directory string
    * if the file is unreadable. */
  def checkpointRunId(spark: SparkSession, checkpointDir: String): String = {
    val meta = new Path(checkpointDir, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(meta)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse(checkpointDir)
    } catch { case _: java.io.IOException => checkpointDir }
  }
}
