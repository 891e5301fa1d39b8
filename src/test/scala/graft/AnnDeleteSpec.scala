package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/**
 * Index-lifecycle DELETIONS (round 15, VERDICT r14 item 3): tombstone
 * registration, tombstone-aware probing, and partition-scoped
 * compaction, gated by the same ≡-rebuild discipline the append path
 * uses — the compacted layout must be set-equal to the layout a
 * fresh assignment of the surviving corpus under the SAME centroids
 * would produce, and the probe must be row-identical before and after
 * compaction (deletes are visible immediately; compaction only
 * reclaims storage).
 */
class AnnDeleteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private def embs = spark.read.parquet(s"$dir/embeddings.parquet")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("deleteFromIndex: zero read staleness, ≡-rebuild compaction, partition-scoped rewrite (IVF)") {
    val path = java.nio.file.Files.createTempDirectory("ivf-delete-").toString
    val built = Similarity.buildIvf(embs, "vec_id", "embedding",
      dim = 64, nlist = 16, iters = 3)
    // earn a calibrated width BEFORE save so it persists with the
    // snapshot — the drop-on-delete contract below needs one to drop
    assert(built.calibrateNprobe(0.9) >= 1)
    built.save(path)
    built.unpersist()
    val centroids = built.centroids
    // sanity: the persisted width serves a fresh load without a scan
    val preDelete = Similarity.loadIvf(spark, path)
    preDelete.calibrateNprobe(0.9)
    assert(preDelete.calibrationScans == 0)

    val removeIds = embs.filter(col("vec_id") % 7 === 3).select("vec_id")
    val nRemove = removeIds.count()
    assert(nRemove > 0)
    // registering is idempotent: a second call re-registers the same set
    val reg1 = Similarity.deleteFromIndex(spark, path, removeIds, "vec_id")
    assert(reg1 == nRemove, s"expected $nRemove registered, got $reg1")

    // calibration dropped on delete (the appendToIvf contract mirror):
    // a fresh load must re-earn its width with a SCAN, not a memo hit
    val afterDelete = Similarity.loadIvf(spark, path)
    afterDelete.calibrateNprobe(0.9)
    assert(afterDelete.calibrationScans == 1,
      "post-delete load must not reuse pre-delete calibrated widths")

    // zero read staleness: no deleted id is reachable from the first
    // post-delete load, at ANY probe width
    val queries = embs.filter(col("vec_id") < 20)
    val probeDel = pairsOf(
      afterDelete.topK(queries, "vec_id", "embedding", k = 5, nprobe = 16))
    assert(probeDel.nonEmpty)
    assert(!probeDel.exists(_._2 % 7 == 3),
      "tombstoned ids must never be returned")

    // the probe still partition-prunes (the tombstone anti-join must not
    // defeat the cell isin static pruning)
    val plan = afterDelete.topK(queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [c#") || plan.contains("PartitionFilters: [(c#"),
      s"post-delete probe must keep partition pruning:\n$plan")

    // record an UNaffected cell's files before compaction: every cell
    // holds some `% 7 == 3` row at this corpus size, so plant one — a
    // cell all of whose tombstoned rows were already compacted away
    // behaves as unaffected on the SECOND compaction below
    val removedByCompact = Similarity.compactIndex(spark, path)
    assert(removedByCompact == nRemove,
      s"compaction must remove exactly the $nRemove tombstoned rows, got $removedByCompact")

    // ≡-rebuild: the compacted layout is set-equal to the layout a
    // fresh assignment of the surviving corpus under the SAME centroids
    // would produce (brute-force flat argmin reference — nlist=16 is
    // far under the two-level threshold, so flat IS the pinned rule)
    val compacted = spark.read.parquet(s"$path/layout")
      .select(col("id").cast("long"), col("c").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val survivors = embs.filter(col("vec_id") % 7 =!= 3)
    val want = survivors.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map { r =>
        val v = r.getSeq[Number](1).map(_.doubleValue()).toArray
        val cell = centroids.zipWithIndex.minBy { case (cvec, _) =>
          cvec.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
        }._2
        (r.getLong(0), cell)
      }.toSet
    assert(compacted == want,
      s"compacted layout must equal the rebuild-with-same-centroids layout " +
        s"(${compacted.size} vs ${want.size} rows; " +
        s"diff ${(compacted diff want).take(3)} / ${(want diff compacted).take(3)})")

    // probe-after-delete ≡ probe-after-compaction, row for row
    val probeCompact = pairsOf(Similarity.loadIvf(spark, path)
      .topK(queries, "vec_id", "embedding", k = 5, nprobe = 16))
    assert(probeDel == probeCompact,
      "compaction must not change probe results")

    // tombstones cleared; a second compaction is a no-op and touches no
    // partition files (staleness bound: dead rows exist only between
    // delete and compact, and only for registered ids)
    val filesBefore = fileSnapshot(s"$path/layout")
    assert(Similarity.compactIndex(spark, path) == 0L)
    assert(fileSnapshot(s"$path/layout") == filesBefore,
      "a tombstone-free compaction must not rewrite any partition")

    // recall gate re-earned on the compacted index vs exact top-k over
    // the SURVIVING corpus (the user-visible semantics of deletion)
    val exact = pairsOf(
      Similarity.topK(survivors, queries, "vec_id", "embedding", k = 5))
    val recall = (probeCompact & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-delete recall too low: $recall")
  }

  test("deleteFromIndex: partial-compaction staleness bound — only affected cells rewrite") {
    val path = java.nio.file.Files.createTempDirectory("ivf-delete-scope-").toString
    val built = Similarity.buildIvf(embs, "vec_id", "embedding",
      dim = 64, nlist = 16, iters = 3)
    built.save(path)
    built.unpersist()
    // remove the members of exactly ONE cell: every other cell partition
    // must come through compaction byte-untouched
    val layout = spark.read.parquet(s"$path/layout")
    val targetCell = layout.groupBy("c").count().orderBy(col("count").desc)
      .head().getInt(0)
    val cellIds = layout.filter(col("c") === targetCell)
      .select(col("id").as("vec_id")).limit(5)
    val n = Similarity.deleteFromIndex(spark, path, cellIds, "vec_id")
    assert(n == 5)
    val before = fileSnapshot(s"$path/layout")
    val removed = Similarity.compactIndex(spark, path)
    assert(removed == 5)
    val after = fileSnapshot(s"$path/layout")
    val changed = (before.keySet ++ after.keySet).filter { f =>
      before.get(f) != after.get(f)
    }
    assert(changed.nonEmpty && changed.forall(_.contains(s"c=$targetCell")),
      s"only cell $targetCell may rewrite; changed: ${changed.take(5)}")
  }

  test("deleteFromIndex + compaction on IVFPQ: deleted ids unreachable, probe stable across compaction") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-delete-").toString
    val built = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 16, ivfIters = 3, m = 16, ksub = 32, pqIters = 3)
    built.save(path)
    built.unpersist()
    val removeIds = embs.filter(col("vec_id") % 5 === 1).select("vec_id")
    val nRemove = removeIds.count()
    assert(Similarity.deleteFromIndex(spark, path, removeIds, "vec_id") == nRemove)
    val queries = embs.filter(col("vec_id") < 20)
    val idx = Similarity.loadIvfPq(spark, path)
    val probeDel = pairsOf(idx.topK(queries, "vec_id", "embedding",
      k = 5, nprobe = 16, shortlist = 200, corpus = embs))
    assert(probeDel.nonEmpty && !probeDel.exists(_._2 % 5 == 1),
      "tombstoned ids must never be returned from the PQ probe")
    assert(Similarity.compactIndex(spark, path) == nRemove)
    val probeCompact = pairsOf(Similarity.loadIvfPq(spark, path)
      .topK(queries, "vec_id", "embedding",
        k = 5, nprobe = 16, shortlist = 200, corpus = embs))
    assert(probeDel == probeCompact, "compaction must not change PQ probe results")
    // deleting ids the layout never held is a harmless no-op
    import spark.implicits._
    val ghost = Seq(999999999L).toDF("vec_id")
    assert(Similarity.deleteFromIndex(spark, path, ghost, "vec_id") == 1L)
    assert(Similarity.compactIndex(spark, path) == 0L)
  }

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
  private def buildIvfAt(rows: DataFrame, path: String): Unit = {
    val b = Similarity.buildIvf(rows, "vec_id", "embedding", dim = 64, nlist = 16, iters = 3)
    b.save(path)
    b.unpersist()
  }
  private def buildIvfPqAt(rows: DataFrame, path: String): Unit = {
    val b = Similarity.buildIvfPq(rows, "vec_id", "embedding", dim = 64,
      nlist = 16, ivfIters = 3, m = 16, ksub = 32, pqIters = 3)
    b.save(path)
    b.unpersist()
  }

  test("save after delete: a re-saved snapshot keeps deleted ids deleted (IVF and IVFPQ)") {
    // save() of a tombstoned index must write the SURVIVING layout: the
    // new snapshot has no tombstone table, so an unfiltered layout would
    // bring every deleted id back on load
    val removeIds = embs.filter(col("vec_id") % 6 === 2).select("vec_id")
    val nRemove = removeIds.count()
    val nSurvive = embs.count() - nRemove
    val queries = embs.filter(col("vec_id") < 20)
    def tombstoned(prefix: String, build: (DataFrame, String) => Unit): String = {
      val path = tmp(prefix)
      build(embs, path)
      assert(Similarity.deleteFromIndex(spark, path, removeIds, "vec_id") == nRemove)
      path
    }
    def assertSurvivorsOnly(kind: String, dst: String, probe: Set[(Long, Long)]): Unit = {
      val layout = spark.read.parquet(s"$dst/layout")
      assert(layout.count() == nSurvive, s"$kind: re-saved layout must hold only survivors")
      assert(layout.filter(col("id") % 6 === 2).isEmpty,
        s"$kind: deleted ids resurrected in the re-saved layout")
      assert(probe.nonEmpty && !probe.exists(_._2 % 6 == 2),
        s"$kind: a deleted id was returned after save + reload")
    }

    val ivfDst = tmp("ivf-resave-dst-")
    Similarity.loadIvf(spark, tombstoned("ivf-resave-src-", buildIvfAt)).save(ivfDst)
    assertSurvivorsOnly("IVF", ivfDst, pairsOf(Similarity.loadIvf(spark, ivfDst)
      .topK(queries, "vec_id", "embedding", k = 5, nprobe = 16)))

    val pqDst = tmp("ivfpq-resave-dst-")
    Similarity.loadIvfPq(spark, tombstoned("ivfpq-resave-src-", buildIvfPqAt)).save(pqDst)
    assertSurvivorsOnly("IVFPQ", pqDst, pairsOf(Similarity.loadIvfPq(spark, pqDst)
      .topK(queries, "vec_id", "embedding", k = 5, nprobe = 16, shortlist = 200,
        corpus = embs)))
  }

  test("a failed save leaves no stale compaction manifest behind (IVF and IVFPQ)") {
    // the destination's previous index (even ids) left a committed
    // compaction manifest; the new index (odd ids) writes its layout but
    // fails a side-table write. The next entry point must not "recover"
    // the old index's cells into the new layout.
    val newRows = embs.filter(col("vec_id") % 2 === 1)
    val nNew = newRows.count()
    def check(kind: String, build: (DataFrame, String) => Unit,
        failingSave: String => Unit, reload: String => Unit): Unit = {
      val dst = tmp(s"$kind-failed-save-")
      build(embs.filter(col("vec_id") % 2 === 0), dst)
      val tmpDir = s"$dst/layout_compacting"
      spark.read.parquet(s"$dst/layout").repartition(1)
        .write.partitionBy("c").parquet(tmpDir)
      val cells = spark.read.parquet(tmpDir).select("c").distinct()
        .collect().map(_.getInt(0))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmpDir/_MANIFEST"),
        cells.map(c => s"$c 1").mkString("\n").getBytes("UTF-8"))
      intercept[Exception](failingSave(dst))
      reload(dst)
      val ids = spark.read.parquet(s"$dst/layout").select(col("id").cast("long"))
        .collect().map(_.getLong(0))
      val stale = ids.count(_ % 2 == 0)
      assert(ids.length == nNew && stale == 0,
        s"$kind: the layout after a failed save must hold only the new index's " +
          s"$nNew rows, got ${ids.length} with $stale of the old index's")
    }

    val ivfNew = tmp("ivf-failed-save-src-")
    buildIvfAt(newRows, ivfNew)
    check("ivf", buildIvfAt, { dst =>
      val idx = Similarity.loadIvf(spark, ivfNew)
      idx.centroids(0) = null // fails the centroids write, not the layout's
      idx.save(dst)
    }, dst => Similarity.loadIvf(spark, dst))

    val pqNew = tmp("ivfpq-failed-save-src-")
    buildIvfPqAt(newRows, pqNew)
    check("ivfpq", buildIvfPqAt, { dst =>
      val idx = Similarity.loadIvfPq(spark, pqNew)
      idx.unitCentroids(0) = null
      idx.save(dst)
    }, dst => Similarity.loadIvfPq(spark, dst))
  }

  test("save writes ONE file per cell — the layout write clusters by cell before partitioning") {
    // without the cluster-by-cell repartition, a save emits one file
    // per (source task, cell) pair — measured 487,500 files at
    // n=1e8/nlist=2500, an hour of driver-side commits (round 15)
    val path = java.nio.file.Files.createTempDirectory("ivf-save-files-").toString
    val built = Similarity.buildIvf(embs, "vec_id", "embedding",
      dim = 64, nlist = 16, iters = 3)
    built.save(path)
    built.unpersist()
    val layout = spark.read.parquet(s"$path/layout")
    val nCells = layout.select("c").distinct().count()
    val nFiles = fileSnapshot(s"$path/layout").size
    assert(nFiles == nCells,
      s"expected exactly one file per non-empty cell ($nCells), got $nFiles")
  }

  /** file name -> (length, mtime) snapshot of a layout tree. */
  private def fileSnapshot(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }
}
