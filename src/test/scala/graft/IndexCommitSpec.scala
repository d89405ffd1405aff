package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DriverParquet, GramIndex, Tables, VectorIndex}

/** The generation-commit protocol the materialized indexes share:
  * crash safety of delete + compact under injected faults, the
  * flat-layout sweep, and loud failure on a half-overwritten sidecar. */
class IndexCommitSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Root entry names, through Hadoop (hides local checksum files). */
  private def rootEntries(path: String): Set[String] = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.getName).toSet
  }

  /** Every staged `gen-*` / `tomb-*` dir has its commit marker. */
  private def uncommitted(path: String): Set[String] = {
    val names = rootEntries(path)
    val Gen = "gen-(\\d+)".r
    val Tomb = "tomb-(\\d+)".r
    names.collect {
      case n @ Gen(g) if !names(s"commit-$g") => n
      case n @ Tomb(t) if !names(s"deleted-$t") => n
    }
  }

  private def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val walk = Files.walk(s)
    try walk.forEach { p =>
      val d = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  test("DriverParquet.read fails loudly on an orphan overwrite tmp") {
    val dir = tmpDir("graft_dp")
    val mt = DriverParquet.schema("message s { optional int64 n; }")
    DriverParquet.overwrite(spark, dir, mt)(gf =>
      Seq(gf.newGroup().append("n", 7L)))
    assert(DriverParquet.read(spark, dir).map(_.getLong("n", 0)) == Seq(7L))
    // the crash window of overwrite: tmp fully written, the old file
    // deleted, the rename never ran
    Files.move(Paths.get(dir, "part-00000.parquet"),
      Paths.get(dir, ".part-00000.parquet.tmp"))
    val e = intercept[IllegalStateException](DriverParquet.read(spark, dir))
    assert(e.getMessage.contains(".part-00000.parquet.tmp"))
    // the next overwrite recovers the dir
    DriverParquet.overwrite(spark, dir, mt)(gf =>
      Seq(gf.newGroup().append("n", 8L)))
    assert(DriverParquet.read(spark, dir).map(_.getLong("n", 0)) == Seq(8L))
  }

  test("vector index compaction sweeps every flat-layout sidecar") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = tmpDir("graft_vsweep")
    VectorIndex.build(emb, "vec_id", "embedding", idx, clusters = 4,
      iterations = 2, capacity = math.ceil(emb.count() / 4.0).toLong,
      maxRounds = 6, sqTier = true, mipsTier = true)
    assert(Set("sqranges", "mipsnorm").subsetOf(rootEntries(idx)))
    VectorIndex.compact(spark, idx)
    VectorIndex.compact(spark, idx)
    val Protocol = "(commit|gen)-\\d+".r
    val stray = rootEntries(idx).filter {
      case Protocol(_) => false
      case _ => true
    }
    assert(stray.isEmpty, s"flat-layout entries survived two compactions: $stray")
    // both frozen sidecars rode into the live generation
    assert(VectorIndex.readMipsNorm(spark, idx) > 0)
    assert(VectorIndex.readSqRanges(spark, idx)._1.nonEmpty)
  }

  test("vector index build refuses a duplicated vec_id") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0L until 40L).map(i => (i, Array.fill(4)(rnd.nextGaussian())))
    val corpus = (rows :+ rows(5)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VectorIndex.build(corpus, "vec_id", "embedding", tmpDir("graft_vdup"),
        clusters = 4, iterations = 2, capacity = 41, maxRounds = 6)
    }
    assert(e.getMessage.contains("vec_id is not unique"), e.getMessage)
    // the same corpus without the duplicate builds
    VectorIndex.build(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmpDir("graft_vuniq"), clusters = 4, iterations = 2, capacity = 40,
      maxRounds = 6)
  }

  test("gram index delete + compact: crash at every root mutation") {
    import spark.implicits._
    FaultyFs.register(spark.sparkContext.hadoopConfiguration)
    // a few dozen docs over a 10-word vocabulary: every 3-gram recurs
    // across docs, so removing docs moves the duplicate-span stats
    val docs = (0 until 36).map { i =>
      (i.toLong, (0 until 8).map(j => s"w${(i * 3 + j * (1 + i % 2)) % 10}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    def ids(m: Int) = docs.where(col("doc_id") % 9 === m).select("doc_id")
    def answer(p: String): Set[Row] =
      GramIndex.dupStats(spark, p).collect().toSet
    def op(p: String): Unit = {
      GramIndex.delete(spark, p, ids(4))
      GramIndex.compact(spark, p)
    }
    // the seed state already has a generation to supersede and a
    // folded tombstone batch, so the op's sweep has work at every step
    val work = tmpDir("graft_crash")
    val seed = s"$work/seed"
    GramIndex.build(docs, "doc_id", "text", FaultyFs.path(seed), n = 3,
      buckets = 4)
    GramIndex.compact(spark, FaultyFs.path(seed))
    GramIndex.delete(spark, FaultyFs.path(seed), ids(1))
    GramIndex.compact(spark, FaultyFs.path(seed))
    val before = answer(FaultyFs.path(seed))
    val ref = s"$work/ref"
    copyTree(seed, ref)
    op(FaultyFs.path(ref))
    val after = answer(FaultyFs.path(ref))
    assert(before != after, "the delete must change the answer")
    var n = 1
    var fired = true
    while (fired) {
      val local = s"$work/n$n"
      val idx = FaultyFs.path(local)
      copyTree(seed, local)
      FaultyFs.arm(local, n)
      try op(idx)
      catch { case _: Exception if FaultyFs.fired => () }
      finally FaultyFs.disarm()
      fired = FaultyFs.fired
      if (fired) {
        val got = answer(idx)
        assert(got == before || got == after,
          s"crash at mutation $n: reader saw neither the old nor the new state")
        op(idx) // fault-free retry
        assert(answer(idx) == after, s"retry after crash $n did not converge")
        GramIndex.compact(spark, idx)
        assert(uncommitted(idx).isEmpty,
          s"crash $n left uncommitted dirs: ${uncommitted(idx)}")
      }
      n += 1
    }
    assert(n > 8, s"only ${n - 2} fault points exercised")
  }
}
