package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dot, l2Norm}

/**
 * Vector-similarity search over an embedding column (`array<float>`):
 * exact brute-force cosine top-k / threshold pairs as the baseline, and
 * LSH (random hyperplanes) + IVF (inverted-file, kmeans-bucketed)
 * variants as the 100 TB scale path. The per-pair hot loop is the
 * codegen'd [[graft.functions.DotProduct]] expression reading the
 * embedding arrays in their NATIVE width — float stays float on disk,
 * in cache, and through every shuffle, widened to double per element
 * inside the kernel (Spark's higher-order functions evaluate lambdas
 * interpreted — ~30x slower here); per-vector norms are computed once
 * per side BEFORE the join, never per pair.
 */
object Similarity {

  /** Cosine similarity of two vector columns, computed in double.
    * Convenience form; the pairwise operators below precompute the norms
    * per side instead of evaluating them per pair. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Vectors stay in their NATIVE element width: the kernels read
    * array<float> directly (widening each element to double — exactly
    * what a Cast would produce, at half the memory bandwidth and half
    * the shuffle width on the float-embedding path). Only non-fp arrays
    * (e.g. array<int>) are cast. */
  private def nativeVec(df: DataFrame, vecCol: String): Column =
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) =>
        col(vecCol)
      case _ => col(vecCol).cast("array<double>")
    }

  /** Project (id, v: native fp array, n: L2 norm) — norms computed once
    * per row, before any join replicates the vectors. */
  private def prepped(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), nativeVec(df, vecCol).as(vAs))
      .withColumn(nAs, l2Norm(col(vAs)))
      // cosine is undefined at zero norm (and for NaN-bearing vectors,
      // whose norm is NaN): such rows pair with and rank against
      // nothing. Without this filter the division below them is an
      // ANSI DIVIDE_BY_ZERO job abort — one all-zeros embedding (a
      // failed encoder output) would kill the whole corpus job.
      .filter(col(nAs) > 0)

  /** Integral id types the bounded top-k aggregate can carry losslessly
    * through its long-keyed heap buffer. */
  private def integralIdType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Rank the scored candidate rows per query with the bounded top-k heap
    * aggregate ([[TopKAggExpr]]) instead of a
    * `row_number().over(Window.partitionBy(query))` — the window shape
    * funnels every candidate row of a query into ONE task for a full sort
    * (a multi-GB single-task sort per query at 100 TB corpus scale), while
    * the aggregate keeps size-k heaps map-side and shuffles only k-entry
    * buffers. Ordering and tie-breaks match the window form exactly
    * (score desc, id asc, NaN greatest); the one deliberate difference is
    * null scores — the window ranked them LAST (padding short result
    * lists with null-cos rows), the aggregate drops them (a null cosine
    * is a malformed vector, not a meaningful rank). */
  private def rankTopK(
      scored: DataFrame, k: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKFunctions.topKByScore(col("cos"), col("neighbor_id").cast("long"), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_r", "_t")))
      .select(col("query_id"), col("_t.id").cast(idType).as("neighbor_id"),
        (col("_r") + lit(1)).as("rank"), round(col("_t.score"), 4).as("cos"))

  /**
   * Exact top-k cosine neighbors for each query vector: broadcast the
   * (small) query side against the full corpus, then bounded top-k heap
   * aggregation per query (see [[rankTopK]] for why not a window rank).
   * Deterministic tie-break on neighbor id. Ids must be integral.
   */
  def topK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val idType = corpus.schema(idCol).dataType
    require(integralIdType(idType),
      s"topK requires an integral id column, got $idType (pre-map ids to long)")
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k, idType)
  }

  /**
   * Top-k over int8-QUANTIZED vectors: both sides quantize map-side
   * (`max|x|/127` symmetric scheme, [[graft.functions.QuantizeInt8]]),
   * and the scoring loop runs entirely on tinyint arrays — the
   * per-vector scales cancel in the cosine, so no reconstruction ever
   * happens. 4x less broadcast/cache/shuffle bandwidth than float32 on
   * the 100 TB path, at a small recall cost (quantization noise only
   * reorders neighbors whose cosines differ by ~1e-2; gated >= 0.9
   * recall@k vs the exact path).
   */
  def topKInt8(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val idType = corpus.schema(idCol).dataType
    require(integralIdType(idType),
      s"topKInt8 requires an integral id column, got $idType (pre-map ids to long)")
    def quantized(df: DataFrame, idAs: String, qAs: String, nAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
          graft.functions.QuantFunctions.quantizeInt8(nativeVec(df, vecCol))
            .getField("q").as(qAs))
        .withColumn(nAs, l2Norm(col(qAs))) // SquaredNorm reads byte arrays natively
        .filter(col(nAs) > 0) // zero/NaN norm: cosine undefined (see prepped)
    val c = quantized(corpus, "neighbor_id", "cq", "cn")
    val q = quantized(queries, "query_id", "qq", "qn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qq"), col("cq")) / (col("qn") * col("cn")))
    rankTopK(scored, k, idType)
  }

  /** Exact all-pairs with cosine >= threshold (brute-force block join —
    * the small-corpus baseline; use [[lshPairs]] at scale).
    *
    * Misuse tripwire: the docstring contract alone is a silent O(n^2)
    * hazard, so by default a cheap count refuses corpora above `maxRows`
    * with a pointer to the scale path. Raise it deliberately, or pass
    * `maxRows = 0` to disable. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      maxRows: Long = 200000L): DataFrame = {
    if (maxRows > 0) {
      val n = df.count()
      require(n <= maxRows,
        s"cosinePairs is the exact O(n^2) baseline; this corpus has $n rows (> $maxRows ≈ " +
          s"${maxRows * maxRows / 2} pair evaluations). Use lshPairs at this scale, or pass " +
          "a higher maxRows (0 disables the guard) if the quadratic cost is intended.")
    }
    val a = prepped(df, idCol, vecCol, "id1", "v1", "n1")
    val b = prepped(df, idCol, vecCol, "id2", "v2", "n2")
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded). */
  private def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /**
   * Random-hyperplane LSH near-neighbor pairs (Charikar, STOC'02):
   * `tables` independent `bits`-bit sign signatures; pairs colliding in
   * any table are candidates, verified with exact cosine. Probabilistic
   * recall (P[bit match] = 1 - angle/pi), exact precision. The bucket
   * join replaces the O(n^2) block join at scale.
   *
   * '''Signature sizing.''' The bucket self-join costs
   * ~`tables * n * occupancy` comparisons, with expected
   * `occupancy = n / 2^bits` — so a FIXED `bits` degrades toward
   * n^2/2^bits as the corpus grows. By default (`bits = 0`) the width is
   * derived from a corpus count: `bits = ceil(log2(n / targetBucketRows))`
   * (floored at 4), keeping expected occupancy — and thus join cost per
   * row — constant as n scales. Per-table recall shrinks as bits grow
   * (`p^bits`, p = 1 - angle/pi); compensate with more `tables` when the
   * target similarity is low. An explicit `bits > 0` overrides.
   *
   * '''Occupancy guard.''' Degenerate inputs (constant embeddings,
   * all-zero vectors) collapse into a few buckets and turn the self-join
   * quadratic regardless of width; one cheap aggregation over the slim
   * (table, sig) rows asserts `max bucket <= max(16*targetBucketRows,
   * maxBucketFrac*n)` and fails loudly before the join can blow up.
   * Disable with `maxBucketFrac = 0`.
   *
   * Eager like the Dedup pair finders: sizing + guard + verification run
   * at call time, and the returned (tiny) qualifying-pair set stays
   * persisted — callers that loop should `unpersist()` it when done.
   *
   * All tables*bits hyperplane dots are computed by ONE fused kernel per
   * row ([[graft.functions.HyperplaneSignatures]]); the per-bit
   * expression tree it replaces compiled a tables*bits-wide codegen unit.
   * Candidates are de-duplicated BEFORE the verify join: a pair can
   * collide in up to `tables` tables, and the distinct runs on slim
   * (id1, id2) rows — cheaper than verifying each duplicate against two
   * attached vectors.
   */
  /** @param multiProbe also probe the `bits` buckets at Hamming distance
    *   1 from each signature (Lv et al., VLDB'07): pairs may then differ
    *   in one signature bit per table, raising per-table collision
    *   probability from p^bits to p^bits + bits*p^(bits-1)*(1-p) — the
    *   recall of ~(bits+1)x as many tables at one table's signature cost.
    *   The probe side of the bucket join grows (bits+1)x; the right
    *   trade when auto-sized bits squeeze per-table recall at moderate
    *   thresholds. */
  def lshPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      dim: Int, tables: Int = 8, bits: Int = 0, seed: Long = 42L,
      targetBucketRows: Int = 64, maxBucketFrac: Double = 0.05,
      multiProbe: Boolean = false): DataFrame = {
    require(bits >= 0 && bits <= 62, s"bits must be in [0, 62] (0 = auto), got $bits")
    val needCount = bits == 0 || maxBucketFrac > 0
    val n: Long = if (needCount) df.count() else -1L // parquet count() is metadata-cheap
    val resolvedBits =
      if (bits > 0) bits
      else math.max(4, math.ceil(math.log(math.max(n, 1).toDouble / targetBucketRows)
        / math.log(2.0)).toInt)
    val hp = hyperplanes(tables, resolvedBits, dim, seed)
    val sigs = df.select(col(idCol).as("id"),
        graft.functions.HashFunctions.hyperplaneSignatures(
          nativeVec(df, vecCol), hp).as("sigs"))
      .select(col("id"), posexplode(col("sigs")).as(Seq("table", "sig")))
      .persist() // feeds the guard plus both self-join branches
    try {
      if (maxBucketFrac > 0) {
        val maxBucket = sigs.groupBy("table", "sig").count()
          .agg(max(col("count")).as("m")).head() match {
            case r if r.isNullAt(0) => 0L // empty input
            case r => r.getLong(0)
          }
        val allowed = math.max(16L * targetBucketRows, (n * maxBucketFrac).toLong)
        if (maxBucket > allowed) {
          throw new IllegalArgumentException(
            s"lshPairs: widest signature bucket holds $maxBucket of $n rows " +
              s"(allowed $allowed with bits=$resolvedBits) — the bucket self-join would " +
              "degenerate toward O(n^2). Check for constant/all-zero embedding vectors, " +
              "raise bits, or disable this guard with maxBucketFrac = 0.")
        }
      }
      // Multi-probe: expand ONE side with every 1-bit flip of its
      // signature. A pair differing at exactly one bit of table t's
      // signature collides through the lower-id row's flipped probe (the
      // a.id < b.id filter fixes which row plays the expanded role), so
      // coverage is complete without expanding both sides.
      val probeSide =
        if (!multiProbe) sigs
        else sigs.select(col("id"), col("table"),
          explode(array(col("sig") +: (0 until resolvedBits).map(b =>
            col("sig").bitwiseXOR(lit(1L << b))): _*)).as("sig"))
      val cands = probeSide.as("a").join(sigs.as("b"), Seq("table", "sig"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .distinct()
      val v1 = prepped(df, idCol, vecCol, "id1", "v1", "n1")
      val v2 = prepped(df, idCol, vecCol, "id2", "v2", "n2")
      val out = cands.join(v1, "id1").join(v2, "id2")
        .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
        .filter(col("cos") >= threshold)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
        .persist()
      try out.count() // materialize while sigs is live
      catch { case t: Throwable => out.unpersist(blocking = false); throw t }
      out
    } finally sigs.unpersist(blocking = false) // released on guard trips and job failures too
  }

  /**
   * A trained IVF index: the centroid set plus the centroid-assigned,
   * norm-annotated corpus layout. Build once with [[Similarity.buildIvf]],
   * probe many times with [[topK]] — the training cost (Lloyd iterations
   * over the corpus) amortizes across query batches, which is how an ANN
   * index is actually operated. `persist()` pins the assigned layout for
   * repeated probing (at cluster scale this is the step you'd snapshot to
   * a bucketed table partitioned by cell id).
   */
  final class IvfIndex private[operators] (
      val centroids: Array[Array[Double]],
      private[operators] val indexed: DataFrame,
      private[operators] val idType: org.apache.spark.sql.types.DataType,
      // well-formed row count, known at build time — saves calibration
      // a counting pass over the (possibly unpersisted, assignment-
      // deriving) layout; None on loaded snapshots (parquet counts are
      // metadata-cheap there)
      private[operators] val rowCountHint: Option[Long] = None,
      // the VERIFIED layout assignment rule (see buildIvfCached): flat
      // exact argmin (false) or the spilled two-level kernel (true).
      // Pinned per index, persisted with snapshots — appends and
      // calibration sampling must place rows exactly as the layout did.
      private[graft] val assignTwoLevel: Boolean = false,
      // the spill factor the two-level structure was built with — part
      // of the pinned rule (ADVICE r13): reading the live conf on
      // re-derivation would let a snapshot loaded under a different
      // spill setting place appended rows with a DIFFERENT member
      // structure than the layout. Meaningless when assignTwoLevel is
      // false; persisted alongside it either way.
      private[graft] val assignSpill: Int = TwoLevelSpill,
      // registered-but-uncompacted deletions (round 15, VERDICT r14
      // item 3): probes anti-join this id set so deleted rows are
      // unreachable from the first post-delete load — zero read
      // staleness — while the layout files stay untouched until
      // [[Similarity.compactIndex]] rewrites the affected cells.
      private[operators] val tombstones: Option[DataFrame] = None,
      private[operators] val tombstoneCount: Long = 0L) {

    // calibration memo (VERDICT r11 item 5): `nprobe=auto` callers were
    // re-paying the bounded-but-real calibration scan (~2 s at 10M) on
    // every probe of the SAME index — the width is a pure function of
    // (index, estimator params), so it is computed once per key.
    private val calibMemo =
      scala.collection.mutable.Map.empty[(Double, Int, Int, Long), Int]
    /** Test hook: how many calibration SCANS this index has run (memo
      * hits don't increment). */
    private[graft] var calibrationScans: Int = 0
    /** Seed the calibration memo from a snapshot ([[Similarity.loadIvf]])
      * — a reloaded index skips the calibration scan entirely for widths
      * the snapshot already earned. */
    private[operators] def preloadCalibration(
        entries: Seq[((Double, Int, Int, Long), Int)]): IvfIndex = {
      calibMemo ++= entries; this
    }
    private[operators] def calibrationEntries: Seq[((Double, Int, Int, Long), Int)] =
      calibMemo.toSeq

    /** Pin the layout for repeated probing. CAVEAT: Spark's columnar
      * cache ENCODES array columns on its slow generic path — building
      * this cache measured ~50x the cost of one full assignment pass
      * (72 s vs 1.5 s at 50k x 64-dim). Worth it only when the index is
      * probed many times in-session; for cross-job reuse prefer
      * [[save]] (parquet encodes arrays natively). */
    def persist(): IvfIndex = { indexed.persist(); this }
    def unpersist(): IvfIndex = { indexed.unpersist(blocking = false); this }

    /** The `k` widest cell occupancies, descending — the skew diagnostic
      * (cell self-join cost is the sum of squared widths). Counts the
      * SURVIVING rows (ADVICE r15): tombstoned rows are unreachable by
      * probes, so widths that include them would overstate the live
      * occupancy the diagnostic is about. */
    def topWidths(k: Int): Seq[Long] =
      antiTombstones(indexed, tombstones, tombstoneCount)
        .groupBy("c").count().orderBy(col("count").desc).limit(k)
        .collect().map(_.getLong(1)).toSeq

    /**
     * Derive `nprobe` from a MEASURED cell-recall estimate instead of a
     * fixed probe fraction (r10's `nlist/4` convention scanned 25% of a
     * uniform 10M corpus for recall 0.91 — a bad trade with no dial).
     *
     * Estimator: take the `sampleQueries` lowest-id corpus vectors as
     * pseudo-queries and their exact cosine top-`neighborsPerQuery`
     * over a DETERMINISTIC hash-sampled corpus slice (at most
     * `maxSampleRows` rows — true neighbors and sampled-slice neighbors
     * have the same CELL-coverage distribution, which is all the
     * estimate needs, so the exact ranking never touches the full
     * corpus). For each (query, neighbor) pair, rank the neighbor's
     * cell in the query's nearest-centroid order; the calibrated nprobe
     * is the `targetCellRecall` quantile of those ranks — the smallest
     * probe width at which that fraction of true neighbors' cells is
     * probed. Costs one bounded scan (sampleQueries x maxSampleRows
     * cosines) + one rank collect (sampleQueries x neighborsPerQuery
     * rows); at 100 TB this is noise against a single probe batch.
     *
     * The answer is honest, not optimistic: on structureless (uniform)
     * corpora cell recall genuinely tracks the probe fraction, and the
     * calibration will return a LARGE nprobe — the documented refusal —
     * rather than a flattering small one.
     *
     * Memoized per estimator-parameter key (the width is a pure
     * function of this index and the params): repeated `nprobe=auto`
     * probes of one index pay the calibration scan exactly once.
     */
    def calibrateNprobe(targetCellRecall: Double = 0.95,
        sampleQueries: Int = 32, neighborsPerQuery: Int = 10,
        maxSampleRows: Long = 500000L): Int =
      // c is PRUNED from the pool projection: the estimator must not
      // re-derive the O(n*nlist*d) assignment on an unpersisted layout —
      // only the bounded sample slice is assigned (inside
      // calibrateNprobeFrom). The pool excludes tombstoned rows (ADVICE
      // r15): deleteFromIndex drops the persisted calibration precisely
      // because deletions change the neighbor field, so the re-earned
      // width must be measured on the SURVIVING corpus — deleted rows
      // appearing as sample queries or neighbors would partially defeat
      // the drop. The row-count hint is likewise only valid untombstoned.
      calibrateNprobeWithPool(
        antiTombstones(
          indexed.select(col("id"), col("v"), col("vn")).filter(col("vn") > 0),
          tombstones, tombstoneCount),
        targetCellRecall, sampleQueries, neighborsPerQuery, maxSampleRows)

    /** [[calibrateNprobe]] with a caller-supplied pool — the build path
      * feeds the estimator from its still-persisted trainer cache
      * instead of re-deriving the (id, v, vn) projection from source
      * (same rows, same result; the memo is shared). */
    private[graft] def calibrateNprobeWithPool(pool: DataFrame,
        targetCellRecall: Double, sampleQueries: Int = 32,
        neighborsPerQuery: Int = 10, maxSampleRows: Long = 500000L): Int =
      calibMemo.getOrElseUpdate(
        (targetCellRecall, sampleQueries, neighborsPerQuery, maxSampleRows), {
          calibrationScans += 1
          calibrateNprobeFrom(pool, centroids, assignTwoLevel, assignSpill,
            rowCountHint,
            targetCellRecall, sampleQueries, neighborsPerQuery, maxSampleRows)
        })


    /** Snapshot the index to storage: the centroid-assigned layout as a
      * parquet table PARTITIONED BY cell id (so a probe of `nprobe`
      * cells is a partition-pruned scan touching nprobe/nlist of the
      * files — the on-disk shape a billion-scale IVF actually uses),
      * plus the centroids as a tiny side table. [[Similarity.loadIvf]]
      * is the inverse; training cost is paid once per corpus snapshot,
      * not per session. */
    def save(path: String): Unit = {
      val spark = indexed.sparkSession
      import spark.implicits._
      // layout + side tables write CONCURRENTLY (round 16, guide §2.6):
      // each lands in its own subdirectory, so the four commits are
      // independent and the save pays the slowest write instead of the
      // sum of four sequential job latencies. The layout is written
      // WITHOUT its tombstoned rows, so deletions survive into the new
      // snapshot (which carries no tombstone table of its own).
      writeSnapshot(spark, path, Seq(
        () => writeLayout(antiTombstones(indexed, tombstones, tombstoneCount),
          s"$path/layout", overwrite = true),
        () => centroids.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
          .toDF("c", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids"),
        // calibrated widths already earned on this index (possibly none —
        // 0 rows): a reloaded snapshot skips those calibration scans
        () => saveCalibration(spark, path, calibrationEntries),
        // the verified layout assignment rule travels too (appends must
        // place rows exactly as the layout did)
        () => saveAssignRule(spark, path, assignTwoLevel, assignSpill)))
    }

    /** Probe the `nprobe` nearest cells per query and rank exact cosines
      * within them (bounded top-k heap — see [[rankTopK]]).
      *
      * NOTE: the probe set is pinned via `localCheckpoint`, whose blocks
      * live for the SESSION (queries x nprobe rows — tiny, but a
      * long-lived service probing thousands of query batches should
      * recycle its session or spill the batches through [[save]]/
      * [[Similarity.loadIvf]]); unpersisting before the returned frame
      * materializes would truncate its lineage and fail the job, and
      * localCheckpoint data is not recomputable on executor loss. */
    def topK(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int): DataFrame = {
      def distsExpr(vec: Column): Column =
        graft.functions.HashFunctions.centroidDistances(vec, centroids)
      val q = queries.select(col(idCol).as("query_id"), nativeVec(queries, vecCol).as("qv"))
      val probed = q.select(col("query_id"), col("qv"),
          posexplode(distsExpr(col("qv"))).as(Seq("ci", "d")))
        .groupBy("query_id")
        .agg(first(col("qv")).as("qv"), // qv is constant per query_id
          TopKFunctions.topKByScore(col("d"), col("ci").cast("long"), nprobe, largest = false)
            .as("_cells"))
        .select(col("query_id"), col("qv"), l2Norm(col("qv")).as("qn"),
          explode(col("_cells.id")).as("cl"))
        .select(col("query_id"), col("qv"), col("qn"), col("cl").cast("int").as("c"))
        .filter(col("qn") > 0) // zero/NaN-norm query: cosine undefined (see prepped)
      // Pin the probe set to ONE evaluation (it is small by contract —
      // queries x nprobe rows): the cell collect below and the join must
      // see the SAME rows, and a non-deterministic queries frame (sample,
      // unordered limit) re-evaluated per job could otherwise probe cells
      // the isin filter excluded — silently dropping neighbors.
      // LAZY local checkpoint + ONE action (round 17, VERDICT r16 item
      // 4): the eager checkpoint was one job and the cell collect a
      // second — with eager=false the cell collect itself materializes
      // the checkpointed partitions, so the probe set is pinned and the
      // cell set collected in a single driver round-trip. Pinning
      // semantics are unchanged: every later consumer reads the same
      // materialized rows.
      val pinned = probed.localCheckpoint(false)
      // Collect the probed cell set (bounded by nlist — tiny) and turn
      // it into a LITERAL isin predicate on the layout before the join:
      // on a saved snapshot (partitioned by c) this is static partition
      // pruning — the scan reads only the probed cells' files — where
      // the bare join would need runtime pruning to kick in; in-memory
      // it is a cheap pre-filter.
      val cells = pinned.select("c").distinct().collect().map(_.getInt(0))
      val scored = pinned.join(
          antiTombstones( // deleted ids never score (see deleteFromIndex)
            indexed.filter(col("c").isin(cells.map(Integer.valueOf): _*)
              && col("vn") > 0), // zero/NaN-norm rows: cosine undefined
            tombstones, tombstoneCount), "c")
        .filter(col("query_id") =!= col("id"))
        .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
        .withColumn("neighbor_id", col("id"))
      rankTopK(scored, k, idType)
    }
  }

  /** Shared calibration body (see [[IvfIndex.calibrateNprobe]]): `pool`
    * is a well-formed (id, v, vn) projection — NO cell column, so the
    * estimator never pays an assignment pass over the corpus; only the
    * bounded sample slice is assigned here (with [[assignCellsChosen]]
    * under the index's PINNED rule — the SAME rule the layout used, so
    * the measured cell ranks reflect where rows actually live). `totalRows` skips the counting pass
    * when the caller already knows it (build-time count,
    * persisted-layout count).
    *
    * ONE pool scan total (round 13): the hash slice is persisted and
    * both the pseudo-queries and the neighbor sample read it — the r12
    * shape evaluated the pool three times (qFrame twice + the slice),
    * each re-paying the caller's projection (at 10M with an interpreted
    * unit-normalizing pool that was ~48 s of the IVFPQ calibration).
    * Pseudo-queries are the `sampleQueries` lowest-id rows OF THE SLICE
    * — identical to the r12 global choice whenever step == 1 (every
    * sub-maxSampleRows pool, so all small-SF gates are byte-stable) and
    * an equally-valid deterministic draw above it. */
  private def calibrateNprobeFrom(pool: DataFrame,
      centroids: Array[Array[Double]], assignTwoLevel: Boolean,
      assignSpill: Int,
      totalRows: Option[Long],
      targetCellRecall: Double,
      sampleQueries: Int, neighborsPerQuery: Int,
      maxSampleRows: Long): Int = {
      require(targetCellRecall > 0 && targetCellRecall <= 1.0,
        s"calibrateNprobe: targetCellRecall=$targetCellRecall must be in (0, 1]")
      val nlist = centroids.length
      val n = totalRows.getOrElse(pool.count())
      if (n == 0) {
        System.err.println("[graft] calibrateNprobe: EMPTY pool — falling " +
          s"back to nprobe = nlist/4 = ${math.max(1, nlist / 4)} (uncalibrated)")
        return math.max(1, nlist / 4)
      }
      val slice = calibSliceOf(pool, n, maxSampleRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try calibWidthOn(slice, centroids, assignTwoLevel, assignSpill,
        targetCellRecall, sampleQueries, neighborsPerQuery,
        stepForLog = math.max(1L, n / math.max(1L, maxSampleRows)))
      finally slice.unpersist(blocking = false)
  }

  /** The calibration estimator's deterministic hash slice of a
    * well-formed (id, v, vn) pool — a pure function of the ids (NOT the
    * centroids), so a training loop can persist it once and re-measure
    * the width under every iteration's centroids
    * ([[calibWidthOn]] / the plateau stop in [[buildIvf]]). */
  private def calibSliceOf(pool: DataFrame, totalRows: Long,
      maxSampleRows: Long): DataFrame = {
    val step = math.max(1L, totalRows / math.max(1L, maxSampleRows))
    pool.filter(pmod(xxhash64(col("id"), lit("ivfcal")), lit(step)) === 0)
  }

  /** The estimator body over an ALREADY-SLICED (and ideally persisted)
    * calibration sample: assign the slice under `centroids`, exact-rank
    * each pseudo-query's true in-slice neighbors' cells in the query's
    * centroid-distance order, return the width at the target quantile.
    * Separated from [[calibrateNprobeFrom]] so the mini-batch trainer's
    * calibration-width plateau stop can re-evaluate the SAME estimator
    * (same slice, same pseudo-queries) under each iteration's centroids
    * — a 20k-row driver-side mirror was measured useless first (uniform
    * 10M: mirror width ~flat 356-388 of 790 across all 10 iterations
    * while this estimator's width collapses to 1; within-slice
    * neighbors at 20k rows are too far apart for their cell ranks to
    * track the real neighbor field). */
  private def calibWidthOn(slice: DataFrame,
      centroids: Array[Array[Double]], assignTwoLevel: Boolean,
      assignSpill: Int,
      targetCellRecall: Double,
      sampleQueries: Int, neighborsPerQuery: Int,
      stepForLog: Long = 1L): Int = {
      val nlist = centroids.length
      // pseudo-queries collect ONCE (sampleQueries x dim doubles): the
      // pre-r14 shape evaluated this orderBy twice (broadcast build +
      // qVecs collect) and — far worse — cross-joined the slice against
      // the query frame through a BroadcastNestedLoopJoin that
      // materialized BOTH 64-dim arrays per joined pair (~16M x ~1 KB of
      // row copying at the 500k/32 defaults: measured 105-117 s of the
      // estimator's ~107 s/call on a quiet host, `calprofile`). The dots
      // now come from ONE codegen'd matrix kernel per slice row.
      val qRows = slice.orderBy("id").limit(sampleQueries)
        .select(col("id").cast("long"), col("v"), col("vn")).collect()
      if (qRows.isEmpty) {
        System.err.println("[graft] calibrateNprobe: EMPTY neighbor sample " +
          s"(step $stepForLog, $sampleQueries pseudo-queries) — " +
          s"falling back to nprobe = nlist/4 = ${math.max(1, nlist / 4)} (uncalibrated)")
        return math.max(1, nlist / 4)
      }
      val qIds = qRows.map(_.getLong(0))
      val qMat = qRows.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
      val qNorms = qRows.map(_.getDouble(2))
      // assign ONLY the sampled slice (<= ~maxSampleRows rows) to its
      // cell. The cell rides the top-k heap DIRECTLY as the entry id
      // (the heap keeps raw (score, id) pairs, no dedup), which works
      // for every id range — the r11 id*nlist+c packing silently
      // discarded hashed/full-range long ids via its overflow guard
      // (ADVICE r11).
      val sample = slice
        .withColumn("c", assignCellsChosen(col("v"), centroids, assignTwoLevel,
          assignSpill))
        .filter(col("c").isNotNull)
      // exact cosine top-n of each pseudo-query over the slice, carrying
      // the neighbor's CELL through the heap (exact-score ties break to
      // the lower cell — deterministic). matrixProject computes the
      // query dots in ascending-j order exactly as DotProduct did, so
      // every cosine — and therefore every width — is bit-identical to
      // the cross-join form; only (qi, cos, cell) rows reach the heap.
      val scored = sample
        .select(col("id").cast("long").as("id"), col("vn"), col("c"),
          posexplode(graft.functions.VectorFunctions.matrixProject(
            col("v"), qMat, new Array[Double](qMat.length))))
        .filter(element_at(lit(qIds), col("pos") + 1) =!= col("id"))
        .select(col("pos"),
          (col("col") / (element_at(lit(qNorms), col("pos") + 1) * col("vn")))
            .as("cos"),
          col("c").cast("long").as("cell"))
      val ranksPerQuery = scored.groupBy("pos")
        .agg(TopKFunctions.topKByScore(col("cos"), col("cell"), neighborsPerQuery)
          .as("_n"))
        .select(col("pos"), explode(col("_n.id")).as("cell"))
        .collect()
        .map(r => qIds(r.getInt(0)) -> r.getLong(1).toInt)
      if (ranksPerQuery.isEmpty) {
        System.err.println("[graft] calibrateNprobe: EMPTY neighbor sample " +
          s"(step $stepForLog, $sampleQueries pseudo-queries) — " +
          s"falling back to nprobe = nlist/4 = ${math.max(1, nlist / 4)} (uncalibrated)")
        return math.max(1, nlist / 4)
      }
      // centroid order per query, computed driver-side (queries and
      // centroids are both tiny): rank of cell c = its position in the
      // (distance, index)-sorted cell list
      val qVecs: Map[Long, Array[Double]] = qIds.zip(qMat).toMap
      def cellRanks(qv: Array[Double]): Array[Int] = {
        val d2 = centroids.map { cvec =>
          var s = 0.0
          var i = 0
          while (i < math.min(cvec.length, qv.length)) {
            val diff = qv(i) - cvec(i); s += diff * diff; i += 1
          }
          s
        }
        val order = d2.zipWithIndex.sortBy { case (d, i) => (d, i) }.map(_._2)
        val rank = new Array[Int](nlist)
        order.zipWithIndex.foreach { case (cell, pos) => rank(cell) = pos + 1 }
        rank
      }
      val rankCache = scala.collection.mutable.Map.empty[Long, Array[Int]]
      val ranks = ranksPerQuery.flatMap { case (qid, cell) =>
        qVecs.get(qid).map { qv =>
          rankCache.getOrElseUpdate(qid, cellRanks(qv)).apply(cell)
        }
      }.sorted
      val idx = math.min(ranks.length - 1,
        math.max(0, math.ceil(targetCellRecall * ranks.length).toInt - 1))
      val pick = math.min(nlist, math.max(1, ranks(idx)))
      System.err.println(f"[graft] calibrateNprobe: target $targetCellRecall%.2f " +
        s"-> nprobe $pick of $nlist (${ranks.length} neighbor-cell ranks, " +
        s"sample step $stepForLog)")
      pick
  }

  /**
   * IVF (inverted-file) approximate top-k: kmeans-lite centroids
   * (deterministic seeded init on the lowest-id vectors, a few Lloyd
   * iterations as DataFrame jobs), then each query probes only the
   * `nprobe` nearest centroid cells. The standard
   * billion-scale ANN layout: the corpus is partitioned by centroid id,
   * so a query touches nprobe/nlist of the data. One-shot convenience
   * over [[buildIvf]] + [[IvfIndex.topK]].
   */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      trainPointsPerCentroid: Int = 256): DataFrame =
    buildIvf(corpus, idCol, vecCol, dim, nlist, iters, trainPointsPerCentroid)
      .topK(queries, idCol, vecCol, k, nprobe)

  /**
   * Append new vectors to a saved [[IvfIndex.save]] snapshot WITHOUT
   * retraining — the daily-ingestion path of a production ANN index:
   * each vector is assigned to its nearest EXISTING centroid (one
   * map-side pass over the new rows, never the indexed corpus) and
   * written into the cell-partitioned layout with parquet append, so
   * probes of the reloaded index partition-prune exactly as before.
   * Centroids are left untouched; as appended data drifts from the
   * training distribution cell occupancy skews and recall sags, so the
   * operational contract is append daily / re-earn the recall gate on
   * the merged index (the round-trip spec does) / retrain when the gate
   * or [[IvfIndex.topWidths]] says so.
   *
   * Appended rows must match the snapshot's id and vector types
   * (parquet-schema coherence of the merged layout) — checked loudly.
   * Malformed vectors (wrong length or null elements) get no cell
   * assignment and are skipped, mirroring [[buildIvf]]'s exclusion.
   * Returns the number of rows appended.
   */
  def appendToIvf(spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Long = {
    val existing = loadIvf(spark, path)
    val layoutSchema = existing.indexed.schema
    val data = newVectors.select(col(idCol).as("id"),
      nativeVec(newVectors, vecCol).as("v"))
    Seq("id", "v").foreach { c =>
      require(data.schema(c).dataType == layoutSchema(c).dataType,
        s"appendToIvf: $c type ${data.schema(c).dataType} does not match " +
          s"the snapshot's ${layoutSchema(c).dataType} — the merged layout " +
          "must stay parquet-schema-coherent (cast the new rows first)")
    }
    val assigned = assignedLayout(data, existing.centroids,
        existing.assignTwoLevel, existing.assignSpill)
      .filter(col("c").isNotNull)
      .persist()
    try {
      val n = assigned.count()
      writeLayout(assigned, s"$path/layout", overwrite = false)
      // appended rows change the cell occupancies the calibrated widths
      // were measured against — a stale persisted width would silently
      // under-probe, so the snapshot's calibration table is DROPPED (the
      // operational contract: append, then re-earn the recall gate /
      // recalibrate, which re-persists on the next save)
      dropCalibration(spark, path)
      untombstone(spark, path, assigned.select(col("id")))
      n
    } finally assigned.unpersist(blocking = false)
  }

  // ------------------------------------------------------------------
  // Index lifecycle: DELETIONS (round 15, VERDICT r14 item 3).
  // appendToIvf/appendToIvfPq handle growth; a dedup/blocklist pipeline
  // also REMOVES documents, and the only prior path was a full retrain.
  // The shape here is the standard tombstone one: deletion registers
  // ids in a side table (no layout rewrite — O(|removals|), not
  // O(corpus)); probes of the reloaded snapshot anti-join the tombstone
  // set against the cell-pruned scan slice (broadcast when the set is
  // small, bloom-prefiltered exact anti join past
  // [[TombstoneBroadcastMax]] — the blocklist that fits megabytes of
  // bloom bits but not a broadcast hash table), so deleted ids are
  // unreachable from the FIRST post-delete load — zero read staleness;
  // the only staleness is storage (dead rows on disk) and scan cost
  // (tombstoned rows are read then dropped), both bounded by the
  // tombstone count and both reclaimed by [[compactIndex]], which
  // rewrites ONLY the affected cell partitions.
  // ------------------------------------------------------------------

  /** Write a cell-partitioned layout table. The CLUSTER-BY-CELL
    * repartition before `partitionBy` is load-bearing at scale (round
    * 15): a layout frame arrives with the source's task partitioning
    * (one per input split — ~200 at 100M), and Spark's dynamic-
    * partition write emits one file per (task, cell) pair — measured
    * 487,500 files at n=1e8/nlist=2500, which turns the save into an
    * hour of driver-side file commits and every subsequent load into a
    * half-million-entry listing. Hashing rows to tasks BY CELL first
    * bounds the file count at one per cell (the shuffle is tiny — the
    * coded rows are ~24 B each), which is also the shape a probe's
    * partition-pruned scan wants to read. */
  private def writeLayout(layout: DataFrame, dest: String,
      overwrite: Boolean): Unit =
    layout.repartition(col("c"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("c").parquet(dest)

  /** Tombstone sets at or under this row count anti-join as a broadcast
    * hash table; larger sets go through the bloom-prefiltered exact
    * anti join ([[PipelineOps.bloomAntiJoin]]). ~8 MB of longs at the
    * default — comfortably under Spark's broadcast comfort zone. */
  private[graft] val TombstoneBroadcastMax = 1000000L

  /** `m`/`ksub` = auto sentinel for the conf-driven IVFPQ build (round
    * 16, VERDICT r15 item 2): resolve the residual code size from the
    * measured cell density — see the resolution block in
    * [[buildIvfPqCached]] for the measured mechanism and anchors. */
  private[graft] val AutoCodeSentinel = -1
  /** Code size for the dense regime: 32 subspaces x 256 codewords (32
    * bytes/vector, 2x the default) — the r16 quantization-noise probe
    * measured ADC-indistinguishable depth 184k at this size vs 1.56M at
    * 16 bytes on the failing 1e8 corpus. */
  private[graft] val DenseCellM = 32
  private[graft] val DenseCellKsub = 256
  /** The documented small/medium-regime default (unchanged since r10). */
  private[graft] val DefaultPqM = 16
  private[graft] val DefaultPqKsub = 32
  /** PROBED CANDIDATE MASS above which the auto code size doubles —
    * the estimated worst-case scan (sum of the `nprobe` densest cells'
    * occupancies at the calibrated probe width), the quantity that
    * actually governs the ADC ranking noise budget. The r16 trigger
    * thresholded the single densest cell, which measurably failed at
    * its target regime: at n=1e8 clustered (nlist=2500) no single cell
    * crossed 500k, yet the calibrated 27-cell probe scanned 1,318,707
    * candidates — comparable to the 1,555,800 ADC-indistinguishable
    * depth of 16-byte codes — and parked recall collapsed to 0.342
    * (diagnostics/annbench_r16.jsonl; VERDICT r16 item 1). Anchors for
    * the 500k value: the densest verified-recall-1.0 regime (1e7 tier)
    * probes ~a latent cluster of ~156k rows; the measured failure
    * probes 1.32M. Conf `spark.graft.ann.denseCellThreshold` (key kept
    * from r16) overrides. */
  private[graft] val DenseProbedMassThreshold = 500000L
  /** Bound on the occupancy-probe sample (one cheap job; skew this
    * coarse is visible at any sane sample size). */
  private[graft] val DenseCellProbeCap = 1000000L

  /** Run independent snapshot-IO thunks (side-table writes / reads —
    * each a tiny Spark action against its own subdirectory) CONCURRENTLY
    * from the driver (round 16, guide §2.6): Spark's scheduler happily
    * runs several jobs at once, and a snapshot save/load was paying the
    * SUM of 4-8 sequential per-action latencies (~0.15-0.3 s each at any
    * scale — driver round-trips, not data) where the max suffices.
    * Exceptions propagate after all thunks settle (a failed write must
    * not be masked by a faster sibling). */
  private def ioParallel[T](thunks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = thunks.map(t => Future(blocking(t())))
    // settle EVERY thunk before propagating a failure (ADVICE r16): an
    // eager rethrow would hand control back to the caller (whose retry
    // could re-enter save()) while sibling writes to the same snapshot
    // directory are still in flight
    val settled = fs.map(f => Await.ready(f, Duration.Inf).value.get)
    settled.collectFirst { case scala.util.Failure(e) => throw e }
    settled.map(_.get)
  }

  /** Footer-count cap: a side-table directory accreted by many small
    * append jobs can hold more footers than a sequential driver-side
    * read should pay for — past this many files the caller's Spark
    * counting job (parallel, still metadata-only for parquet) is the
    * better shape (ADVICE r16). */
  private val FooterCountMaxFiles = 256

  /** Sum of parquet footer row counts under a directory, driver-side —
    * the metadata-cheap way to count a tiny side table (round 16): a
    * `df.count()` is a full Spark job (listing + scan stage + collect)
    * even when the answer is already in every footer. Returns None when
    * the directory is missing/empty or a footer is unreadable — callers
    * fall back to the counting job. */
  private def footerRowCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val parts = fs.listStatus(p).filter { st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")
        }
        if (parts.length > FooterCountMaxFiles) None
        else {
          var n = 0L
          parts.foreach { st =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try n += r.getRecordCount finally r.close()
          }
          Some(n)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-cell row counts of a cell-partitioned layout directory
    * (parquet files under `layout/c=N`), descending, read from parquet
    * footers driver-side — the metadata-cheap source for the
    * auto-shortlist widths of a LOADED snapshot (round 17). None when
    * the directory is missing, has no `c=` partitions, or any cell's
    * footers are unreadable/over the footer cap — callers fall back to
    * the counting job. */
  private def layoutCellWidths(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String): Option[Array[Long]] =
    try {
      val p = new org.apache.hadoop.fs.Path(layoutDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val cellDirs = fs.listStatus(p).filter { st =>
          st.isDirectory && st.getPath.getName.startsWith("c=")
        }
        if (cellDirs.isEmpty) None
        else {
          val widths = cellDirs.flatMap(d =>
            footerRowCount(spark, d.getPath.toString))
          if (widths.length != cellDirs.length) None
          else Some(widths.sorted(Ordering[Long].reverse))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Drop tombstoned ids from a probe's cell-pruned layout slice.
    * Exact either way; the strategy only changes the plan shape. */
  private def antiTombstones(slice: DataFrame, tomb: Option[DataFrame],
      count: Long): DataFrame = tomb match {
    case None => slice
    case Some(t) if count <= TombstoneBroadcastMax =>
      slice.join(broadcast(t), Seq("id"), "left_anti")
    case Some(t) =>
      PipelineOps.bloomAntiJoin(slice, t.withColumnRenamed("id", "_tid"),
        "id", "_tid", expectedItems = count)
  }

  /** The tombstone side table of a snapshot, when non-empty. The count
    * is metadata-cheap: parquet row-count footers read driver-side
    * (round 16 — the r15 shape ran a full `count()` job per load/delete
    * entry point), with the counting job kept as the fallback for
    * unreadable footers. */
  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
      path: String): (Option[DataFrame], Long) =
    footerRowCount(spark, s"$path/tombstones") match {
      case Some(0L) => (None, 0L)
      case Some(n) => (Some(spark.read.parquet(s"$path/tombstones")), n)
      case None =>
        try {
          val df = spark.read.parquet(s"$path/tombstones")
          val n = df.count()
          if (n == 0) (None, 0L) else (Some(df), n)
        } catch { case _: org.apache.spark.sql.AnalysisException => (None, 0L) }
    }

  /** Invalidate a snapshot's persisted calibration by REMOVING the side
    * table (round 16): the delete/append contract is "drop the earned
    * widths", and a driver-side directory delete does that without the
    * empty-DataFrame write job the r15 shape paid ([[loadCalibration]]
    * already reads an absent directory as no-entries — the pre-r12
    * snapshot case). */
  private def dropCalibration(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/calibration")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Remove the given ids from a snapshot's tombstone table (ADVICE
    * r15): re-inserting a previously deleted id must make the NEW row
    * visible — without this, the probe anti-join keeps suppressing the
    * fresh row and the next [[compactIndex]] permanently deletes it
    * before clearing the tombstone: silent data loss on the natural
    * delete-then-reinsert (upsert) pattern. Bounded by the tombstone
    * count; no-op when the snapshot has none. Runs AFTER the layout
    * append lands (clearing first and crashing before the write would
    * resurrect the OLD deleted row — the worse failure; the remaining
    * crash window between append and clear merely reproduces the
    * pre-fix suppression until the append is retried). */
  private def untombstone(spark: org.apache.spark.sql.SparkSession,
      path: String, appendedIds: DataFrame): Unit =
    tombstonesOf(spark, path) match {
      case (None, _) => ()
      case (Some(tomb), _) =>
        // pin before the self-overwrite (same rule as compactWith)
        val keep = tomb.join(appendedIds.select(col("id")), Seq("id"),
          "left_anti").localCheckpoint()
        keep.write.mode("overwrite").parquet(s"$path/tombstones")
    }

  /** Name of the compaction swap-plan manifest inside the
    * `layout_compacting` tmp dir. Its PRESENCE is the commit point of a
    * compaction (ADVICE r15): written (atomically, via tmp + rename)
    * only after every surviving row is durably in the tmp layout, so a
    * crash mid-swap is completed — never rolled back — by
    * [[recoverCompaction]] at the next entry point. A tmp dir WITHOUT
    * the manifest is an uncommitted compaction: discarded, layout and
    * tombstones untouched. */
  private val CompactionManifest = "_MANIFEST"

  /** Execute (or re-execute) a compaction swap plan. Idempotent per
    * cell: a cell whose survivors were already renamed in (src gone,
    * dst present) is skipped; a fully-deleted cell's dst delete
    * re-runs harmlessly. */
  private def swapCells(fs: org.apache.hadoop.fs.FileSystem, path: String,
      plan: Seq[(Int, Boolean)]): Unit =
    plan.foreach { case (cell, hasSrc) =>
      val dst = new org.apache.hadoop.fs.Path(s"$path/layout/c=$cell")
      val src = new org.apache.hadoop.fs.Path(s"$path/layout_compacting/c=$cell")
      if (hasSrc) {
        if (fs.exists(src)) {
          fs.delete(dst, true)
          require(fs.rename(src, dst),
            s"compactIndex: failed to move $src into the layout")
        } // else: this cell's swap already completed before the crash
      } else fs.delete(dst, true)
    }

  /** Complete or discard a compaction that crashed mid-flight (ADVICE
    * r15: the bare delete-then-rename left a crash window in which a
    * cell's SURVIVING rows were simply gone, and a subsequent load
    * served silently wrong results). Called from every snapshot entry
    * point — [[loadIvf]], [[loadIvfPq]], [[deleteFromIndex]],
    * [[compactIndex]] (appends enter through the loads) — under the
    * snapshot's single-writer contract. Manifest present: every
    * survivor is durably in the tmp layout, so the swap is RE-RUN to
    * completion and the tombstones cleared (exactly what the crashed
    * compaction would have done). Manifest absent: the compaction
    * never committed — the tmp dir is discarded and the layout +
    * tombstone state stands untouched. */
  private[graft] def recoverCompaction(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/layout_compacting")
    if (!fs.exists(tmp)) return
    val manifest = new org.apache.hadoop.fs.Path(tmp, CompactionManifest)
    if (!fs.exists(manifest)) {
      System.err.println(s"[graft] recoverCompaction: discarding " +
        s"uncommitted compaction under $path (no manifest)")
      fs.delete(tmp, true)
      return
    }
    val in = fs.open(manifest)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val plan = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(c, s) = line.split(" ")
        (c.toInt, s == "1")
      }.toSeq
    System.err.println(s"[graft] recoverCompaction: completing crashed " +
      s"compaction under $path (${plan.size} cells)")
    swapCells(fs, path, plan)
    fs.delete(tmp, true)
    // clear the tombstone table — directory removal, the round-16
    // equivalent of the 0-row overwrite (tombstonesOf reads an absent
    // directory as no-tombstones) without a Spark write job
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
  }

  /**
   * Register id deletions against a saved [[IvfIndex.save]] /
   * [[IvfPqIndex.save]] snapshot WITHOUT rewriting the layout — the
   * removal path of a production ANN index (a dedup verdict, a
   * takedown/blocklist, a retention window). Ids are deduplicated, cast
   * to the layout's id type, and APPENDED to `path/tombstones`;
   * registering an id twice (or an id the layout never held) is
   * harmless — anti-join semantics make tombstoning idempotent.
   *
   * Contract mirror of [[appendToIvf]]: the persisted calibration table
   * is DROPPED. Deletions change the cell occupancies and the true-
   * neighbor cell-rank distribution the calibrated widths were measured
   * against (an adversarial removal set can hollow out exactly the
   * cells a query's survivors' neighbors would have been found in), so
   * the operational contract is delete / re-earn the recall gate or
   * recalibrate / [[compactIndex]] when the tombstone fraction makes
   * the dead-row scan cost matter.
   *
   * Returns the number of distinct non-null ids registered by THIS call.
   */
  /** Layout id type per snapshot path, memoized (round 16, VERDICT r15
    * nit 4): the type is fixed at save time (appends enforce it), so
    * re-reading parquet footers on every delete batch — a full listing
    * at wide nlist — buys nothing. Keyed on the FILESYSTEM-qualified
    * path (ADVICE r16: `java.io.File` canonicalization is wrong for
    * non-local URIs) and EVICTED by `save()` — overwriting a snapshot
    * with a different id type in the same JVM must not serve the stale
    * type to a later [[deleteFromIndex]]. */
  private val layoutIdTypeMemo =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.DataType]

  /** The memo key of a snapshot root: qualified through the path's own
    * FileSystem so `hdfs://`/`s3a://` URIs and equivalent spellings of
    * one local path collapse to a single entry. */
  private def layoutMemoKey(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    catch { case scala.util.control.NonFatal(_) => p.toString }
  }

  /** Drop a snapshot root's memoized layout id type — called by the
    * save paths (layout overwrite may change the type; ADVICE r16). */
  private[operators] def evictLayoutIdType(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    layoutIdTypeMemo.remove(layoutMemoKey(spark, path)); ()
  }

  /** Run a full snapshot's `writes` concurrently, clearing the side
    * state of the path's previous life around them (driver-side
    * deletes, no Spark job). A crashed compaction's tmp layout goes
    * first: it never belongs to the index being saved, and a stale
    * committed manifest would "recover" old cells into the new layout.
    * The tombstones go only after every write succeeded, so a failed
    * save leaves them in force. The id-type memo is evicted too (the
    * overwrite may change the type — ADVICE r16). */
  private def writeSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, writes: Seq[() => Unit]): Unit = {
    evictLayoutIdType(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/layout_compacting"), true)
    ioParallel(writes)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    ()
  }

  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      removeIds: DataFrame, idCol: String): Long = {
    require(integralIdType(removeIds.schema(idCol).dataType),
      s"deleteFromIndex requires an integral id column, got " +
        s"${removeIds.schema(idCol).dataType}")
    recoverCompaction(spark, path)
    val layoutIdType = layoutIdTypeMemo.getOrElseUpdate(
      layoutMemoKey(spark, path),
      spark.read.parquet(s"$path/layout").schema("id").dataType)
    val ids = removeIds
      .select(col(idCol).cast(layoutIdType).as("id"))
      .filter(col("id").isNotNull).distinct().persist()
    try {
      val n = ids.count()
      if (n > 0) {
        ids.write.mode("append").parquet(s"$path/tombstones")
        dropCalibration(spark, path)
      }
      n
    } finally ids.unpersist(blocking = false)
  }

  /**
   * Reclaim a snapshot's tombstoned rows: rewrite ONLY the cell
   * partitions that actually hold deleted ids (found with one
   * column-pruned `(id, c)` scan — bloom-prefiltered semi join at
   * scale) and clear the tombstone table. Unaffected cell partitions'
   * files are never read or touched, so compaction cost is proportional
   * to the deleted rows' cell footprint, not the corpus.
   *
   * The rewrite goes through `path/layout_compacting` and a per-
   * partition filesystem swap rather than a self-overwrite (Spark
   * refuses to overwrite a path it is reading). Probe-equivalence is
   * exact by construction — the surviving rows and their cells are
   * byte-identical to what the anti-join was already serving — and the
   * round's gate query asserts it row for row (`ann_delete`).
   *
   * Returns the number of layout rows removed.
   */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    recoverCompaction(spark, path)
    tombstonesOf(spark, path) match {
      case (None, _) => 0L
      case (Some(tomb0), tombCount) => compactWith(spark, path, tomb0, tombCount)
    }
  }

  private def compactWith(spark: org.apache.spark.sql.SparkSession,
      path: String, tomb0: DataFrame, tombCount: Long): Long = {
    // pin the tombstone rows (bounded by contract — a removal set, not
    // a corpus) so the swap below can't invalidate the frame mid-job,
    // and so the 0-row overwrite at the end isn't a self-read
    val tomb = tomb0.localCheckpoint()
    val layout = spark.read.parquet(s"$path/layout")
    // affected cells + removal counts, one (id, c)-pruned scan; the
    // result is bounded by nlist rows
    val hits = layout.select("id", "c")
    val semi =
      if (tombCount <= TombstoneBroadcastMax)
        hits.join(broadcast(tomb), Seq("id"), "left_semi")
      else
        PipelineOps.bloomSemiJoin(hits, tomb.withColumnRenamed("id", "_tid"),
          "id", "_tid", expectedItems = tombCount)
    val perCell = semi.groupBy("c").agg(count(lit(1)).as("n")).collect()
    val affected = perCell.map(r => r.getInt(r.fieldIndex("c")))
    val removed = perCell.map(_.getLong(1)).sum
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (affected.nonEmpty) {
      val tmp = s"$path/layout_compacting"
      val survivors = antiTombstones(
        layout.filter(col("c").isin(affected.map(Integer.valueOf): _*)),
        Some(tomb), tombCount)
      writeLayout(survivors, tmp, overwrite = true)
      // COMMIT POINT (ADVICE r15): every surviving row is now durably
      // in tmp; record the swap plan (cell id + whether it has a
      // surviving partition dir — a fully-deleted cell has none, and
      // recovery must know the difference to stay idempotent) and make
      // it visible atomically. From here a crash anywhere in the swap
      // is COMPLETED by recoverCompaction at the next entry point;
      // before it, the tmp dir is discarded and nothing changed.
      val plan = affected.toSeq.map { cell =>
        (cell, fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/c=$cell")))
      }
      val manifestTmp = new org.apache.hadoop.fs.Path(tmp, s"$CompactionManifest.tmp")
      val out = fs.create(manifestTmp, true)
      try out.write(plan.map { case (c, s) => s"$c ${if (s) 1 else 0}" }
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(manifestTmp,
        new org.apache.hadoop.fs.Path(tmp, CompactionManifest)),
        "compactIndex: failed to commit the swap manifest")
      swapCells(fs, path, plan)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    // clear the tombstone table — directory removal (round 16): the
    // 0-row overwrite here was a full Spark write job per compaction;
    // tombstonesOf reads an absent directory as no-tombstones, exactly
    // the post-compaction state
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    removed
  }

  /** Reload an [[IvfIndex]] snapshot written by [[IvfIndex.save]]: the
    * layout scan stays partitioned by cell id (probe joins prune to the
    * probed cells' files), and no retraining happens — the centroids are
    * the tiny side table. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    recoverCompaction(spark, path)
    // the four independent side-table reads run CONCURRENTLY (round 16,
    // guide §2.6) — each is a driver round-trip (listing + footer +
    // tiny collect), and the load was paying their sum
    val io = ioParallel(Seq(
      () => spark.read.parquet(s"$path/centroids")
        .orderBy("c").collect()
        .map(_.getSeq[Number](1).map(_.doubleValue()).toArray),
      () => spark.read.parquet(s"$path/layout"),
      () => loadAssignRule(spark, path),
      () => tombstonesOf(spark, path),
      () => loadCalibration(spark, path)))
    val centroids = io(0).asInstanceOf[Array[Array[Double]]]
    require(centroids.nonEmpty, s"loadIvf: no centroids found under $path/centroids")
    val indexed = io(1).asInstanceOf[DataFrame]
    val (twoLevel, spill) = io(2).asInstanceOf[(Boolean, Int)]
    val (tomb, tombCount) = io(3).asInstanceOf[(Option[DataFrame], Long)]
    new IvfIndex(centroids, indexed, indexed.schema("id").dataType,
      assignTwoLevel = twoLevel, assignSpill = spill,
      tombstones = tomb, tombstoneCount = tombCount)
      .preloadCalibration(io(4).asInstanceOf[Seq[((Double, Int, Int, Long), Int)]])
  }

  /** Snapshot side table for the calibration memo: calibrated nprobe
    * widths are a pure function of (index, estimator params), so they
    * travel with the index — calibrate once per corpus snapshot, ever.
    * Written even when empty (0 rows) so load never probes the
    * filesystem; pre-r12 snapshots simply lack the directory. */
  private def saveCalibration(spark: org.apache.spark.sql.SparkSession,
      path: String, entries: Seq[((Double, Int, Int, Long), Int)]): Unit = {
    import spark.implicits._
    entries.map { case ((t, sq, npq, msr), np) => (t, sq, npq, msr, np) }
      .toDF("target", "sample_queries", "neighbors_per_query",
        "max_sample_rows", "nprobe")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/calibration")
  }

  private def loadCalibration(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[((Double, Int, Int, Long), Int)] =
    try {
      spark.read.parquet(s"$path/calibration").collect().toSeq.map { r =>
        ((r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3)), r.getInt(4))
      }
    } catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }

  /** Snapshot side table for the VERIFIED layout assignment rule (see
    * [[buildIvfCached]]): appends and calibration sampling on a
    * reloaded index must place rows exactly as the layout did. Absent
    * directory (pre-r13 snapshot) = flat — correct, two-level layouts
    * did not exist before the table. */
  private def saveAssignRule(spark: org.apache.spark.sql.SparkSession,
      path: String, twoLevel: Boolean, spill: Int): Unit = {
    import spark.implicits._
    Seq((twoLevel, spill)).toDF("two_level", "spill")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/assignrule")
  }

  /** (twoLevel, spill). The spill travels with the rule (ADVICE r13):
    * the two-level member structure is a function of (centroids, spill),
    * so a reload must NOT re-read the live session conf. Pre-r14
    * snapshots persisted only the boolean — their BUILDS read the live
    * conf, so the faithful back-compat value is the live conf too
    * (ADVICE r14: a legacy snapshot built under a custom
    * `spark.graft.ann.twoLevelSpill` that is still set at reload time
    * must keep placing appends under the structure the layout used; a
    * compiled constant would silently diverge). A legacy snapshot
    * reloaded in a DIFFERENTLY-configured session is still ambiguous —
    * warn loudly. Pre-r13 snapshots lack the directory = flat. */
  private def loadAssignRule(spark: org.apache.spark.sql.SparkSession,
      path: String): (Boolean, Int) =
    try {
      val df = spark.read.parquet(s"$path/assignrule")
      val row = df.head()
      val twoLevel = row.getBoolean(row.fieldIndex("two_level"))
      val spill =
        if (df.schema.fieldNames.contains("spill"))
          row.getInt(row.fieldIndex("spill"))
        else {
          val live = twoLevelSpill(spark)
          if (twoLevel && live != TwoLevelSpill)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"legacy ANN snapshot at $path has no persisted spill; " +
                s"assuming the live conf value $live (the build-time " +
                "behavior) — re-save the index to pin it")
          live
        }
      (twoLevel, spill)
    } catch {
      case _: org.apache.spark.sql.AnalysisException =>
        (false, twoLevelSpill(spark))
    }

  /** Coarse-trainer AUTO sizing (`trainPointsPerCentroid = 0`): the
    * PER-ITERATION batch budget. Corpora at or under the target train
    * FULL (bit-identical to the unsampled path — keeps every small-SF
    * gate byte-stable); larger corpora train MINI-BATCH, a fresh
    * deterministic ~this-many-row slice per Lloyd iteration with
    * cumulative running-mean centroids (see [[buildIvf]]) — total
    * training mass is effIters x target (~the full corpus at 10M)
    * while each iteration costs a CONSTANT O(target * nlist * d)
    * regardless of n, which is the whole point at 100 TB. Sizing:
    * total mass, not points-per-centroid, is what drives cell recall
    * on structureless data — the r10/r11 dose-response: one static
    * 202k sample -> recall 0.91, one 1.25M sample -> 0.904, full ->
    * ~1.0 at the same 25% probe. The nlist*256 floor keeps very wide
    * codebooks (nlist > ~5k) at the FAISS points-per-centroid
    * convention. */
  private[graft] def autoTrainTarget(n: Long, nlist: Int,
      floor: Long = 1250000L): Long =
    math.min(n, math.max(nlist.toLong * 256L, floor))

  /** `nlist = 0` (auto) sizing: ~sqrt(n)/4 cells — the shape the
    * ANNBENCH clustered tiers hand-tuned to (n=1M -> 250, n=10M -> 790;
    * [[graft.operators.Dedup]]'s semanticPairs uses the same heuristic).
    * Floor 16 keeps tiny corpora probing meaningfully; cap 65536 bounds
    * the per-row assignment kernel (O(nlist*d)) and the driver-side
    * centroid state — past that, grow a second quantizer level, not
    * this one. */
  private[graft] def autoNlist(n: Long): Int =
    math.min(65536L, math.max(16L, (math.sqrt(math.max(0L, n).toDouble) / 4.0).toLong)).toInt

  /** Cell counts at or above this use TWO-LEVEL assignment
    * ([[graft.functions.NearestCentroidTwoLevel]]); below it the flat
    * early-exit argmin is already a minor cost and the hierarchy's
    * approximation buys nothing. Conf `spark.graft.ann.twoLevelAssignMin`
    * overrides (0 disables); it is a LAYOUT parameter — changing it
    * between build, append, and calibration of one index is unsupported
    * (the assignment rule must be the same function of the centroids
    * everywhere the index touches rows). */
  private[graft] val TwoLevelAssignMin = 256
  private[graft] val TwoLevelSpill = 4

  /** `opqIters=auto` picks this many OPQ alternations when the residual
    * spectrum probe says anisotropic (the r11 OPQCHECK grid's measured
    * setting), 0 otherwise. */
  private[graft] val OpqAutoIters = 8

  /** `opqIters=auto` threshold: rotate when the residual covariance
    * spectrum's participation ratio falls below this fraction of d.
    * Measured separation is wide — ~0.9-1.0·d on uniform/clustered
    * residuals (flat spectrum), ~0.2·d on the Hadamard-mixed aniso
    * corpus (0.5^(j/8) decaying latent scales) — so 0.5 sits in the
    * middle of an empty band. */
  private[graft] val OpqAutoParticipationFrac = 0.5

  /** Eigenvalue participation ratio (Σλ)²/Σλ² ∈ [1, d]: d on a flat
    * (isotropic) spectrum, collapsing toward the latent dimensionality
    * on an anisotropic one. Rotation-invariant, unlike any per-
    * dimension variance measure. */
  private[graft] def participationRatio(eigenvalues: Array[Double]): Double = {
    val l = eigenvalues.map(math.max(_, 0.0))
    val s = l.sum
    val s2 = l.map(x => x * x).sum
    if (s2 <= 0) l.length.toDouble else s * s / s2
  }

  /** Deterministic supergrouping of a centroid set for two-level
    * assignment: ~sqrt(ncent) supergroup centers from an 8-iteration
    * driver-side Lloyd over the centroids themselves (init: every
    * (ncent/S)-th centroid in index order — a pure function of the
    * centroids, so a reloaded snapshot re-derives the SAME structure
    * with no extra snapshot state), then each centroid SPILLS into its
    * `spill` nearest supergroups so boundary centroids stay reachable
    * from every nearby group. Cost is O(ncent * sqrt(ncent) * dim)
    * driver-side doubles — microseconds at any realistic nlist. */
  private[graft] def superStructure(centroids: Array[Array[Double]],
      spill: Int): (Array[Array[Double]], Array[Array[Int]]) = {
    val n = centroids.length
    val dim = centroids.head.length
    val nsuper = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      val lim = math.min(a.length, b.length)
      while (j < lim) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    var supers = Array.tabulate(nsuper)(g =>
      centroids((g.toLong * n / nsuper).toInt).clone())
    for (_ <- 1 to 8) {
      val sums = Array.fill(nsuper)(new Array[Double](dim))
      val counts = new Array[Long](nsuper)
      var c = 0
      while (c < n) {
        var bg = 0; var bd = Double.MaxValue
        var g = 0
        while (g < nsuper) {
          val dd = d2(centroids(c), supers(g))
          if (dd < bd) { bd = dd; bg = g }
          g += 1
        }
        counts(bg) += 1
        var j = 0
        while (j < dim) { sums(bg)(j) += centroids(c)(j); j += 1 }
        c += 1
      }
      supers = Array.tabulate(nsuper)(g =>
        if (counts(g) == 0) supers(g).clone()
        else sums(g).map(_ / counts(g)))
    }
    // spilled membership: each centroid joins its `spill` nearest
    // supergroups (ties to the lower group index)
    val eff = math.min(spill, nsuper)
    val members = Array.fill(nsuper)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var c = 0
    while (c < n) {
      val ds = Array.tabulate(nsuper)(g => (d2(centroids(c), supers(g)), g))
      ds.sortBy { case (dd, g) => (dd, g) }.take(eff).foreach { case (_, g) =>
        members(g) += c
      }
      c += 1
    }
    // a supergroup nobody spilled into still needs a non-empty list
    // (the level-2 argmin has no fallback): give it its nearest centroid
    for (g <- 0 until nsuper if members(g).isEmpty) {
      val best = (0 until n).minBy(cc => (d2(centroids(cc), supers(g)), cc))
      members(g) += best
    }
    (supers, members.map(_.sorted.toArray))
  }

  /** Whether the conf WANTS two-level assignment at this cell count —
    * the candidacy test. Whether a layout actually USES it is decided
    * by [[buildIvfCached]]'s measured verification (see
    * `twoLevelMaxDisagree` there) and then pinned to the index. */
  private def twoLevelCandidate(ncent: Int,
      spark: org.apache.spark.sql.SparkSession): Boolean = {
    val minN = spark.conf.getOption("spark.graft.ann.twoLevelAssignMin")
      .map(_.trim.toInt).getOrElse(TwoLevelAssignMin)
    minN > 0 && ncent >= minN
  }

  /** The spill a NEW build pins into its layout (conf-read happens once,
    * at build time — never on re-derivation of a loaded snapshot, whose
    * persisted [[IvfIndex.assignSpill]] wins; ADVICE r13). */
  private def twoLevelSpill(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.ann.twoLevelSpill")
      .map(_.trim.toInt).getOrElse(TwoLevelSpill)

  /** THE assignment rule of an IVF-family LAYOUT, pinned per index:
    * `twoLevel = false` is the flat exact argmin; `true` the spilled
    * hierarchical kernel. A pure function of (centroids, twoLevel,
    * spill) — the supergroup structure re-derives deterministically
    * from exactly those — so build, append, calibration sampling, and
    * a reloaded snapshot all place rows identically. */
  private[graft] def assignCellsChosen(vec: Column,
      centroids: Array[Array[Double]], twoLevel: Boolean,
      spill: Int): Column =
    if (twoLevel) {
      val (supers, members) = superStructure(centroids, spill)
      graft.functions.HashFunctions.nearestCentroidTwoLevel(
        vec, supers, members, centroids)
    } else graft.functions.HashFunctions.nearestCentroid(vec, centroids)

  /** Train an [[IvfIndex]] on the corpus (see [[ivfTopK]] for the
    * algorithm and scale notes). `trainPointsPerCentroid = 0` selects
    * the measured [[autoTrainTarget]] sizing. */
  def buildIvf(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int = 16, iters: Int = 3,
      trainPointsPerCentroid: Int = 256): IvfIndex = {
    val (idx, cached) = buildIvfCached(corpus, idCol, vecCol, dim, nlist,
      iters, trainPointsPerCentroid)
    // release the training cache: probes recompute the assignment from
    // source unless the caller pins the index with IvfIndex.persist() —
    // one extra scan per probe batch, no leak either way
    cached.unpersist(blocking = false)
    idx
  }

  /** [[buildIvf]] that RETAINS its training cache — the (id, v, _wf)
    * projection of the corpus, still persisted — so a composite build
    * ([[buildIvfPq]]) can derive its residual/encode passes from memory
    * instead of re-scanning (and re-projecting) the source. The CALLER
    * owns the unpersist. */
  private[graft] def buildIvfCached(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int = 16, iters: Int = 3,
      trainPointsPerCentroid: Int = 256): (IvfIndex, DataFrame) = {
    val idType = corpus.schema(idCol).dataType
    require(integralIdType(idType),
      s"buildIvf requires an integral id column, got $idType (pre-map ids to long)")
    require(trainPointsPerCentroid >= 0,
      s"buildIvf: trainPointsPerCentroid=$trainPointsPerCentroid must be >= 0 (0 = auto)")
    require(nlist >= 0, s"buildIvf: nlist=$nlist must be >= 0 (0 = auto ~ sqrt(n)/4)")
    // Lloyd iterations re-scan the TRAINING set; cache it for the
    // duration of training (the canonical iterative-ML pattern — at
    // cluster scale this is a MEMORY_AND_DISK persist of the same shape).
    // Vectors stay in their native width (float embeddings cache at half
    // the size); the kernels widen per element.
    // well-formedness is computed ONCE into the cache as a boolean: the
    // length/null guard carries an interpreted higher-order `exists`,
    // and the mini-batch loop re-filters per iteration — with the
    // predicate re-evaluated over the cached corpus every time, it
    // measured ~60 of the 77 s/iteration at 10M/nlist=790 (r11 build
    // profile). A cached boolean costs one byte per row.
    val data = corpus.select(col(idCol).as("id"), nativeVec(corpus, vecCol).as("v"))
      .withColumn("_wf", size(col("v")) === lit(dim) && !exists(col("v"), _.isNull))
      .cache()
    // SAMPLED coarse-quantizer training (round 10 — the FAISS
    // `max_points_per_centroid` convention, same as pqTrainOn): full-
    // corpus Lloyd is O(n·nlist·d) PER ITERATION plus an n·d-row
    // posexplode shuffle for the mean update — at n=10M/nlist=256 that
    // was the 330 s build, and at corpus scale it is THE blocker that
    // forces nlist (and with it the probe's scan fraction) artificially
    // low. Centroid quality saturates at a few hundred points per cell,
    // so training runs on the `nlist * trainPointsPerCentroid` rows
    // with the lowest xxhash64(id, salt) (ties to lower id — a pure
    // function of the ids, deterministic across runs and partitionings),
    // and the full corpus pays exactly ONE assignment map pass for the
    // layout. A corpus at or under the cap keeps the ORIGINAL frame —
    // bit-identical training to the unsampled path (no re-filter, no
    // repartition), which pins every small-SF driver gate byte-stable.
    val wellFormed = data.filter(col("_wf"))
    val nWellFormed = wellFormed.count()
    // nlist=0 derives the cell count from the corpus ([[autoNlist]]):
    // the fixed default of 16 cells that made sense at test SF is a
    // 6%-of-corpus scan PER PROBED CELL at 10M+ (VERDICT r11 item 4)
    val nCells = if (nlist == 0) {
      val a = autoNlist(nWellFormed)
      System.err.println(s"[graft] buildIvf: nlist=auto -> $a cells " +
        s"(n=$nWellFormed well-formed rows)")
      a
    } else nlist
    val autoMode = trainPointsPerCentroid == 0
    // per-iteration auto budget floor — a tuning/testing surface (specs
    // shrink it to exercise the mini-batch path on small corpora)
    val autoFloor = corpus.sparkSession.conf
      .getOption("spark.graft.ann.autoTrainFloor").map(_.trim.toLong)
      .getOrElse(1250000L)
    val cap =
      if (autoMode) autoTrainTarget(nWellFormed, nCells, autoFloor)
      else nCells.toLong * trainPointsPerCentroid
    // limit() takes an Int: a nlist*tppc product past Int.MaxValue would
    // wrap negative in the cast — clamp loudly instead (2.1B training
    // rows is already far past any quality saturation point)
    val capInt =
      if (cap <= Int.MaxValue.toLong) cap.toInt
      else {
        System.err.println(s"[graft] buildIvf: training cap $cap " +
          s"(nlist=$nCells x trainPointsPerCentroid=$trainPointsPerCentroid) " +
          s"exceeds Int.MaxValue — clamping to ${Int.MaxValue}")
        Int.MaxValue
      }
    val sampled = nWellFormed > capInt
    // AUTO mode past the cap trains MINI-BATCH (Sculley, WWW'10): each
    // Lloyd iteration assigns a FRESH deterministic hash slice of ~cap
    // rows (salt = iteration index) and centroids are the cumulative
    // per-cell running means across all batches. A static sample of the
    // same size leaves measurable cell recall on structureless data —
    // r11 10M-uniform measurement: static 1.25M sample 0.904 at a 25%
    // probe vs full training ~1.0 — because the final centroids carry
    // the one sample's jitter; the mini-batch accumulator integrates
    // effIters x cap draws (~the whole corpus at 10M) while each
    // iteration still costs O(cap * nlist * d): full-training quality
    // at a per-iteration cost that is CONSTANT in n. Static explicit
    // budgets (tppc > 0) keep the r9/r10 one-sample semantics.
    val miniBatch = sampled && autoMode
    val train =
      if (!sampled || miniBatch) data
      else wellFormed.drop("_wf")
        .orderBy(xxhash64(col("id"), lit("ivftrain")), col("id"))
        .limit(capInt)
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .cache()
    // ceiling division: floor would make corpora just past the cap
    // (cap < n < 2*cap) take step=1 — a FULL pass per iteration
    val batchStep = math.max(1L,
      (nWellFormed + math.max(1L, cap) - 1L) / math.max(1L, cap))

    // deterministic init: the nlist lowest-id WELL-FORMED vectors (right
    // length, no null elements — malformed rows would NPE the driver
    // collect here, while everywhere else they are cleanly excluded by
    // the kernels' length/null contracts). A corpus smaller than nlist
    // yields fewer centroids — every loop below runs over
    // centroids.length, never the requested nlist. getSeq[Number]: the
    // native column may be float or double.
    var centroids: Array[Array[Double]] = train
      .filter(size(col("v")) === lit(dim) && !exists(col("v"), _.isNull))
      .orderBy("id").limit(nCells)
      .collect().map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    require(centroids.nonEmpty, "buildIvf: no well-formed vectors in corpus " +
      s"(need non-null arrays of length $dim)")

    // Sample mode runs UP TO max(iters, 10) Lloyd iterations: each
    // iteration costs O(cap·nlist·d) — noise against the full-corpus
    // passes the sample just saved — while UNDER-trained sampled
    // centroids measurably cost cell recall on structureless data
    // (uniform n=1M: recall@10 1.00 with full-corpus training vs 0.85
    // with 3 sampled iterations at the same nprobe). The MINI-BATCH
    // path additionally stops early once the per-iteration centroid
    // shift converges (see trainStopShift above). The unsampled path
    // keeps the caller's `iters` untouched.
    val effIters = if (sampled) math.max(iters, 10) else iters
    // Mini-batch EARLY STOP (VERDICT r11 item 3): the running-mean
    // accumulator's per-iteration centroid movement decays as the
    // accumulated mass grows, and once the relative shift
    // sqrt(sum ||c_new - c_old||^2 / sum ||c_new||^2) is under
    // `trainStopShift`, further batches buy recall the calibration can
    // no longer measure — r11 burned a fixed 10 iterations (283 s of
    // the 367 s clustered-10M IVFPQ build) where the shift trajectory
    // says the centroids stop moving materially after ~5. Floors at
    // `trainMinIters` so one quiet batch can't truncate training;
    // applies ONLY to the mini-batch path — full and static-sample
    // training keep their exact r9-r11 iteration counts (and hashes).
    val trainStopShift = corpus.sparkSession.conf
      .getOption("spark.graft.ann.trainStopShift").map(_.trim.toDouble)
      .getOrElse(0.002)
    val trainMinIters = corpus.sparkSession.conf
      .getOption("spark.graft.ann.trainMinIters").map(_.trim.toInt)
      .getOrElse(4)
    // size of the held-out slice the two-level kernel is verified on
    val stabRows = corpus.sparkSession.conf
      .getOption("spark.graft.ann.trainStabilitySample").map(_.trim.toLong)
      .getOrElse(20000L)
    // Calibration-width PLATEAU early stop (VERDICT r13 item 4): per
    // iteration, the REAL nprobe calibration estimator ([[calibWidthOn]]
    // — the same deterministic hash slice, pseudo-queries, and quantile
    // the post-build calibrateNprobe uses) is re-evaluated under the new
    // centroids, and training stops after `trainStopPlateau` consecutive
    // iterations with no width improvement. This tracks cell-direction
    // sharpness exactly as calibration measures it — not per-row
    // assignment stability, which measurement refuted as a stop signal
    // (10M uniform: held-out assignment churn plateaus under 2% by
    // iteration ~5 while the calibrated width there is ~102 of 256,
    // against 1 after full training).
    // A bounded 20k-row DRIVER-SIDE mirror was built and measured FIRST
    // and refuted: on uniform 10M its width reads a flat 356-388 of 790
    // across all 10 iterations while the real estimator's width
    // collapses to 1 — within-slice true neighbors at 20k rows are too
    // far apart for their cell ranks to track the serving-time neighbor
    // field, so the stop must pay for the real slice
    // (`trainPlateauSample`, default the estimator's own 500k). Cost
    // when enabled: one bounded distributed assign+rank job per
    // iteration (~9 s at n=10M nlist=790 after the matrixProject
    // estimator rewrite; 0 disables). DEFAULT 2, on the r14 trajectory
    // evidence (diagnostics/r14_plateau_traj_*.log): the per-iteration
    // width is FLAT on every measured 10M shape — uniform a790 width 1
    // from iteration 1, uniform 256 width 95-112 with no trend,
    // clustered a790 width 1 (shift-stopped at 4 anyway) — i.e. r13's
    // "c1 rides on the full 10 iterations" narrative compared ACROSS
    // nlist regimes (c102 at 256/iter-5 vs c1 at 790/iter-10) and
    // attributed to training mass what was the cell-count difference;
    // the per-iteration instrument shows iterations past the
    // trainMinIters floor buy no measurable width anywhere. The stop
    // stays honest on data where width DOES keep improving: staleness
    // only accumulates when the real estimator stops improving.
    // Mini-batch path only (engages above the ~1.25M-row auto train
    // target, so every small-SF gate and spec is byte-stable by
    // construction; full/static-sample training keeps its exact
    // iteration counts).
    val trainStopPlateau = corpus.sparkSession.conf
      .getOption("spark.graft.ann.trainStopPlateau").map(_.trim.toInt)
      .getOrElse(2)
    val plateauOn = miniBatch && trainStopPlateau > 0
    val plateauSampleRows = corpus.sparkSession.conf
      .getOption("spark.graft.ann.trainPlateauSample").map(_.trim.toLong)
      .getOrElse(500000L)
    val twoLevelWanted = twoLevelCandidate(centroids.length, corpus.sparkSession)
    // the spill this build pins: read from conf ONCE here — every
    // assignment this index ever does (training, layout, calibration,
    // appends after reload) uses this value, never the live conf again
    val chosenSpill = twoLevelSpill(corpus.sparkSession)
    // the held-out slice serves two measurements: the init-time
    // training-kernel verification and the final layout verification —
    // cached once, released after training
    val stab =
      if (twoLevelWanted)
        data.filter(col("_wf") &&
            pmod(xxhash64(col("id"), lit("ivfstab")),
              lit(math.max(1L, nWellFormed / math.max(1L, stabRows)))) === 0)
          .select(col("id").cast("long").as("id"), col("v"))
          .cache()
      else null
    // the plateau stop's calibration slice: the estimator's OWN hash
    // slice (centroid-independent — a pure function of the ids), so the
    // per-iteration width is the real calibrateNprobe quantity, and the
    // final iteration's width equals what a post-build calibration at
    // the same sample size measures
    val calSlice =
      if (plateauOn)
        calibSliceOf(
          data.filter(col("_wf"))
            .select(col("id"), col("v"), l2Norm(col("v")).as("vn"))
            .filter(col("vn") > 0),
          nWellFormed, plateauSampleRows)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else null
    val plateauTarget = corpus.sparkSession.conf
      .getOption("spark.graft.ann.cellRecallTarget")
      .map(_.trim.toDouble).getOrElse(0.95)
    var plateauBest = Int.MaxValue
    var plateauStale = 0
    // fraction of slice rows where the two-level kernel disagrees with
    // the flat exact argmin under `cents` — the structure test behind
    // both kernel decisions below
    def disagreeFrac(cents: Array[Array[Double]]): Double = {
      val r = stab.select(
          assignCellsChosen(col("v"), cents, twoLevel = false,
            chosenSpill).as("flat"),
          assignCellsChosen(col("v"), cents, twoLevel = true,
            chosenSpill).as("two"))
        .filter(col("flat").isNotNull)
        .agg(count(lit(1)).as("n"),
          sum(when(col("flat") =!= col("two"), 1L).otherwise(0L)).as("dis"))
        .head()
      val tot = r.getLong(0)
      if (tot == 0) 0.0 else (if (r.isNullAt(1)) 0L else r.getLong(1)).toDouble / tot
    }
    val twoLevelMaxDisagree = corpus.sparkSession.conf
      .getOption("spark.graft.ann.twoLevelMaxDisagree").map(_.trim.toDouble)
      .getOrElse(0.01)
    // TRAINING kernel, verified on the INIT centroids: training with a
    // kernel that misassigns a third of the rows pollutes the running
    // means (measured at 10M uniform: two-level-trained centroids
    // calibrate to nprobe 14-101 where flat-trained ones reach 1), so
    // the cheap kernel must earn the training loop the same way it
    // earns the layout. Structured corpora verify clean and train
    // hierarchical; structureless ones train flat — their early-exit
    // is weak but honest.
    val trainTwoLevel = twoLevelWanted && {
      val frac = disagreeFrac(centroids)
      val ok = frac <= twoLevelMaxDisagree
      System.err.println(f"[graft] buildIvf: two-level TRAINING verification on init " +
        f"centroids — ${frac * 100}%.2f%% disagreement vs " +
        f"${twoLevelMaxDisagree * 100}%.2f%% allowed -> " +
        (if (ok) "two-level training" else "flat training"))
      ok
    }
    // argmin with ties broken on the lower index — flat or verified
    // two-level per the decision above
    def assignExpr(vec: Column, cents: Array[Array[Double]]): Column =
      assignCellsChosen(vec, cents, trainTwoLevel, chosenSpill)
    // mini-batch accumulator: cumulative per-cell sums and counts across
    // iterations; centroid(c) = cumSum(c)/cumN(c) (the running mean —
    // Sculley's per-center 1/N learning rate in aggregate form)
    val cumSum = Array.fill(centroids.length)(new Array[Double](dim))
    val cumN = new Array[Long](centroids.length)
    var it = 1
    var converged = false
    while (it <= effIters && !converged) {
      // per-iteration slice: hash predicate + the CACHED well-formed
      // boolean — nothing interpreted runs here (see the _wf comment on
      // the data cache above)
      val batch =
        if (miniBatch)
          data.filter(
            pmod(xxhash64(col("id"), lit(s"ivfmb$it")), lit(batchStep)) === 0
              && col("_wf"))
        else train
      // wrong-length vectors get NULL distances (kernel length contract)
      // and thus a null assignment — excluded from the mean update
      val assigned = batch.withColumn("c", assignExpr(col("v"), centroids))
        .filter(col("c").isNotNull)
      // one aggregation job per iteration; the (c, pos, stat) result is at
      // most nlist*dim rows — assembled driver-side, no second shuffle
      val updated = centroids.map(_.clone())
      if (miniBatch) {
        // fused typed aggregate (VectorAvgAggExpr): one nlist x (dim+1)
        // partial per task instead of the 64x-row posexplode expansion —
        // the mean update is no longer the iteration's dominant shuffle
        val stats = assigned.groupBy("c")
          .agg(VectorAggFunctions.vectorAvg(col("v")).as("mean"),
            count(lit(1)).as("m"))
          .collect()
        stats.foreach { row =>
          val c = row.getInt(0)
          if (c >= 0 && c < cumSum.length && !row.isNullAt(1)) {
            val mean = row.getSeq[Double](1)
            val m = row.getLong(2)
            // belt-and-braces vs the length contract above: never write
            // past a centroid's end on unexpected input shapes
            val lim = math.min(dim, mean.length)
            var p = 0
            while (p < lim) { cumSum(c)(p) += mean(p) * m; p += 1 }
            cumN(c) += m
          }
        }
        for (c <- centroids.indices if cumN(c) > 0; p <- 0 until math.min(dim, updated(c).length))
          updated(c)(p) = cumSum(c)(p) / cumN(c)
      } else {
        val means = assigned
          .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("c", "pos").agg(avg(col("x").cast("double")).as("m"))
          .collect()
        means.foreach { row =>
          val c = row.getInt(0)
          val pos = row.getInt(1)
          // belt-and-braces vs the length contract above: never write past
          // a centroid's end on unexpected input shapes
          if (pos < updated(c).length) updated(c)(pos) = row.getDouble(2)
        }
      }
      if (miniBatch) {
        // relative centroid shift this iteration — driver-side over
        // nlist x dim doubles, microseconds
        var num = 0.0
        var den = 0.0
        for (c <- centroids.indices) {
          val lim = math.min(updated(c).length, centroids(c).length)
          var p = 0
          while (p < lim) {
            val dd = updated(c)(p) - centroids(c)(p)
            num += dd * dd
            den += updated(c)(p) * updated(c)(p)
            p += 1
          }
        }
        val rel = math.sqrt(num / math.max(den, java.lang.Double.MIN_NORMAL))
        // plateau width estimate under the NEW centroids (the state the
        // next iteration would train from)
        var width = -1
        if (plateauOn) {
          // the REAL estimator under the new centroids, with the
          // training loop's verified kernel decision (the final layout
          // re-verifies and re-calibrates under its own pinned rule)
          width = calibWidthOn(calSlice, updated, trainTwoLevel, chosenSpill,
            plateauTarget, sampleQueries = 32, neighborsPerQuery = 10)
          if (width < plateauBest) { plateauBest = width; plateauStale = 0 }
          else plateauStale += 1
        }
        if (it >= trainMinIters &&
            (rel < trainStopShift || (plateauOn && plateauStale >= trainStopPlateau)))
          converged = true
        System.err.println(f"[graft] buildIvf mini-batch iter $it/$effIters: " +
          f"centroid shift $rel%.5f" +
          (if (width >= 0)
            s", est cal width $width (best $plateauBest, stale $plateauStale)"
           else "") +
          (if (converged) " — converged, stopping" else ""))
      }
      centroids = updated
      it += 1
    }

    // VERIFIED two-level layout decision (round 13): the hierarchical
    // kernel is an approximation, and on STRUCTURELESS data its boundary
    // scatter is poison downstream — not to recall (the calibration
    // absorbs it) but to the calibrated width itself: a misassigned
    // neighbor's cell ranks far down the query's exact centroid order
    // when many cells are near-tied, so the 0.95-quantile width
    // explodes (measured at 10M uniform: flat layout calibrates to
    // nprobe=1, unverified two-level to nprobe=109 — the probe win
    // evaporates). So the LAYOUT earns the cheap kernel: measure
    // two-level-vs-flat disagreement on the bounded held-out slice and
    // fall back to the flat exact argmin above `twoLevelMaxDisagree`
    // (default 1%; negative = always flat, a kill switch). Structured
    // corpora — the shape real embeddings have — verify clean and keep
    // the O(sqrt(nlist)) assignment; the decision is pinned to the
    // index and travels with snapshots so appends and calibration
    // always match the layout.
    val useTwoLevel = twoLevelWanted && {
      val frac = disagreeFrac(centroids)
      val ok = frac <= twoLevelMaxDisagree
      System.err.println(f"[graft] buildIvf: two-level LAYOUT verification on final " +
        f"centroids — ${frac * 100}%.2f%% disagreement vs " +
        f"${twoLevelMaxDisagree * 100}%.2f%% allowed -> " +
        (if (ok) "two-level layout" else "FLAT layout fallback"))
      ok
    }

    // Training is over (the collect loops above materialized the cache);
    // the static-sample and stability caches are internal and released
    // here; `data` stays persisted — the caller (buildIvf / buildIvfPq)
    // owns it.
    if (sampled && !miniBatch) train.unpersist(blocking = false)
    if (stab != null) stab.unpersist(blocking = false)
    if (calSlice != null) calSlice.unpersist(blocking = false)

    // the index layout: centroid-assigned corpus with norms computed once
    // per row, BEFORE any probe join replicates rows
    (new IvfIndex(centroids,
      assignedLayout(data.drop("_wf"), centroids, useTwoLevel, chosenSpill),
      idType,
      rowCountHint = Some(nWellFormed), assignTwoLevel = useTwoLevel,
      assignSpill = chosenSpill), data)
  }

  /** Nearest-centroid assignment + norm annotation of an (id, v) frame —
    * the layout shape [[buildIvf]] trains into and [[appendToIvf]]
    * extends (argmin ties to the lower cell index; malformed vectors get
    * a null cell under the kernel's length/null contract). */
  private def assignedLayout(data: DataFrame,
      centroids: Array[Array[Double]], twoLevel: Boolean,
      spill: Int): DataFrame =
    data.withColumn("c",
        assignCellsChosen(col("v"), centroids, twoLevel, spill))
      .withColumn("vn", l2Norm(col("v")))

  // ------------------------------------------------------------------
  // Product quantization (PQ): the compressed-index ANN path
  // (Jegou/Douze/Schmid TPAMI'11) — m bytes per vector instead of 4*d
  // (16 bytes at d=64/m=16, a 16x compression), which is what makes a
  // billion-vector index fit executor memory at 100 TB corpus scale
  // where even the int8 path's 64 bytes/vector would not. Scoring is
  // asymmetric (ADC): the query stays exact, a per-query lookup table
  // of m*ksub partial inner products rides with the broadcast query
  // side, and each corpus vector scores with m table lookups — the
  // whole corpus-side hot loop is the codegen'd
  // [[graft.functions.PqAdcScore]] over tinyint codes, no float vector
  // bandwidth at all. An exact re-rank of a bounded per-query shortlist
  // (the FAISS "refine" stage) buys back the quantization recall loss:
  // only shortlist-many full vectors per query are ever touched.
  // ------------------------------------------------------------------

  /** A trained PQ codebook set: `codebooks(s)(c)` is codeword `c` of
    * subspace `s` (m x ksub x dsub, trained on UNIT-normalized vectors
    * so ADC inner products approximate cosine). Train once with
    * [[pqTrain]] (deterministic: seeded init on the lowest-id vectors,
    * fixed Lloyd iterations), encode/probe many times.
    *
    * `rotation`, when present, is an ORTHOGONAL d x d matrix applied to
    * every vector BEFORE the subspace split (OPQ — Ge/He/Ke/Sun,
    * CVPR'13): inner products are rotation-invariant
    * (dot(q, x) = dot(Rq, Rx)), so encoding Rx and building ADC tables
    * from Rq scores EXACTLY the same quantity, but the learned R
    * decorrelates the subspaces and balances their variance, cutting
    * quantization distortion at the SAME bit budget — the fix for
    * clustered corpora where axis-aligned subspaces collapse at
    * m=16/16 B per vector (ANNBENCH r9: recall@10 0.43 at n=1M). Train
    * with [[opqTrain]]; every encode/table site routes through the one
    * rotation choke point, so a rotation-free model behaves exactly as
    * before. */
  final case class PqModel(codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]] = None) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub
    /** The compression this model buys on the corpus side. */
    def bytesPerVector: Int = m
  }

  /** The one rotation choke point: apply `model.rotation` to a vector
    * column via the codegen'd affine kernel
    * ([[graft.functions.MatrixProject]], zero offsets), or pass the
    * column through untouched for a rotation-free model — the identity
    * case pays nothing. */
  private def pqRotated(v: Column, model: PqModel): Column =
    model.rotation match {
      case Some(r) =>
        graft.functions.VectorFunctions.matrixProject(v, r, new Array[Double](r.length))
      case None => v
    }

  /** Unit-normalize the (id, v) projection of a vector frame, dropping
    * zero/NaN-norm rows (cosine undefined — same totality contract as
    * [[prepped]]). One interpreted `transform` pass per row at
    * encode/train time only — NEVER on the per-pair scoring path, which
    * stays inside the codegen'd ADC kernels.
    *
    * The division is guarded with `nullif(_n, 0)` even though the
    * `_n > 0` filter already excludes zero norms: Catalyst is free to
    * evaluate a downstream projection's expressions on rows this filter
    * drops (merged filter conjuncts have no evaluation order, and
    * `ConvertToLocalRelation` folds project+filter eagerly), so under
    * ANSI mode an unguarded `x / 0` aborts the job from a row that was
    * never going to survive. Null divisor -> null elements -> the
    * kernels' null contracts drop the row, same outcome either way. */
  private def unitized(df: DataFrame, idCol: String, vecCol: String,
      idAs: String): DataFrame =
    df.select(col(idCol).as(idAs), nativeVec(df, vecCol).as("_v"))
      .withColumn("_n", l2Norm(col("_v")))
      .filter(col("_n") > 0)
      .select(col(idAs),
        transform(col("_v"), x => x.cast("double") / nullif(col("_n"), lit(0.0))).as("u"))

  /**
   * Train a [[PqModel]] on the corpus: split the (unit-normalized)
   * vectors into `m` subspaces of `dim/m` coordinates and run `iters`
   * Lloyd iterations of `ksub`-means in EVERY subspace simultaneously —
   * one assignment pass ([[graft.functions.PqAssignCodes]], all m
   * argmins fused per row) and ONE aggregation job per iteration, whose
   * result is at most m*ksub*dsub doubles (2 KiB at 16x32x4) assembled
   * driver-side. Init is deterministic: subspace slices of the `ksub`
   * lowest-id well-formed vectors, so the model is a pure function of
   * the data and gate queries hash stably.
   *
   * An empty cluster keeps its previous codeword (the standard Lloyd
   * convention); a corpus smaller than `ksub` trips loudly — a codebook
   * wider than the data has empty codewords by construction.
   */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int = 3,
      trainPointsPerCodeword: Int = 256): PqModel =
    pqTrainOn(unitized(corpus, idCol, vecCol, "id"),
      dim, m, ksub, iters, trainPointsPerCodeword)

  /** Train on an already-projected (id, u) frame — the residual path of
    * [[buildIvfPq]] must NOT re-normalize its inputs (residuals are not
    * unit vectors and normalizing them would distort the codebook).
    *
    * Codebooks fit on a BOUNDED deterministic sample of
    * `ksub * trainPointsPerCodeword` rows (the FAISS convention —
    * `max_points_per_centroid`): full-corpus Lloyd assignment is
    * O(n·d·ksub) PER ITERATION (measured 355 s at n=1M, d=64,
    * ksub=256), while codebook quality saturates at a few hundred
    * points per codeword. The sample takes the lowest
    * `xxhash64(id, salt)` priorities (ties to lower id) — a pure
    * function of the ids, so training stays deterministic; a corpus at
    * or under the cap trains on every row, bit-identical to the
    * unsampled path. Encoding still covers the full corpus. */
  private[operators] def pqTrainOn(units: DataFrame,
      dim: Int, m: Int, ksub: Int, iters: Int,
      trainPointsPerCodeword: Int): PqModel = {
    require(dim % m == 0, s"pqTrain: dim=$dim must divide into m=$m subspaces")
    require(ksub >= 1 && ksub <= 256, s"pqTrain: ksub=$ksub must fit one byte (1..256)")
    require(trainPointsPerCodeword >= 1,
      s"pqTrain: trainPointsPerCodeword=$trainPointsPerCodeword must be >= 1")
    val dsub = dim / m
    val cap = ksub * trainPointsPerCodeword
    // The whole fit runs DRIVER-SIDE on the bounded sample (round 16):
    // the sample is <= cap rows x dim doubles (~33 MB at the 256x256
    // worst case) — the same fixed-size-sample-is-driver-work rule
    // [[opqTrainOn]], the k-means init, and the PCA eigensolve already
    // follow. The r11 distributed trainer paid `iters` full Spark job
    // round-trips (sort-limit + cache + one posexplode/groupBy/collect
    // per Lloyd iteration — measured 2.2-3.9 s of the sf0.1 ANN builds,
    // pure orchestration at that size); ONE collect replaces them, and
    // the update itself is microseconds at any legal (m, ksub, dim).
    // Selection, init, tie-breaks, and the empty-cluster keep rule are
    // unchanged (lowest xxhash64(id, "pqtrain") sample, lowest-id
    // seeds, strict-< argmin — the [[PqAssignCodes]] kernel contract),
    // so the codebooks match the distributed form up to floating-point
    // summation order.
    val sample = units
      .filter(size(col("u")) === lit(dim) && !exists(col("u"), _.isNull))
      .orderBy(xxhash64(col("id"), lit("pqtrain")), col("id"))
      .limit(cap)
      .collect()
    val x = sample.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    require(x.length >= ksub,
      s"pqTrain: corpus has only ${x.length} well-formed vectors — " +
        s"need at least ksub=$ksub (shrink ksub or grow the corpus)")
    // deterministic init: subspace s of the r-th lowest-id vector seeds
    // codeword r of subspace s
    val seedRows = sample
      .map(r => (r.get(0).asInstanceOf[Number].longValue(), r))
      .sortBy(_._1).take(ksub)
      .map(_._2.getSeq[Number](1).map(_.doubleValue()).toArray)
    val books0: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub)((s, c) => seedRows(c).slice(s * dsub, (s + 1) * dsub))
    PqModel(lloydDriver(x, books0, iters))
  }

  // ------------------------------------------------------------------
  // OPQ (Ge/He/Ke/Sun, CVPR'13 — "Optimized Product Quantization"):
  // learn an orthogonal rotation R that the subspace split is applied
  // AFTER, by alternating (a) codebook refit on the rotated sample and
  // (b) the orthogonal-Procrustes solve R = U V^T of the d x d
  // cross-covariance between the data and its quantized reconstruction.
  // Training runs DRIVER-SIDE on the same bounded deterministic sample
  // the distributed trainer already caps at (<= ksub*256 rows * d
  // doubles ~ 33 MB worst case): a model fit over a fixed-size sample
  // is driver work by the same rule as the k-means init and the PCA
  // eigensolve — the corpus itself is never collected, and encoding
  // stays fully distributed through the codegen'd kernels.
  // ------------------------------------------------------------------

  /** R = U V^T from the SVD of `m0` — the orthogonal matrix maximizing
    * tr(R^T m0), i.e. the Procrustes alignment. SVD via the existing
    * Jacobi eigensolve of m0^T m0 (V and singular values), with U
    * columns recovered as m0 v / sigma and degenerate directions
    * (sigma ~ 0) completed to an orthonormal basis by deterministic
    * Gram-Schmidt over canonical vectors — exactly orthogonal by
    * construction either way (spec-gated ||R R^T - I|| ~ 1e-12). */
  private[graft] def procrustesRotation(m0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m0.length
    val a = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += m0(k)(i) * m0(k)(j); k += 1 }
        a(i)(j) = s; j += 1
      }
      i += 1
    }
    val (evals, vrows) = jacobiEigen(a) // descending eigenvalues; vrows(j) = v_j
    val sig = evals.map(l => math.sqrt(math.max(l, 0.0)))
    val tol = math.max(sig.headOption.getOrElse(0.0), 1e-300) * 1e-9
    val uCols = Array.ofDim[Double](d, d) // uCols(j) = column u_j
    val have = Array.fill(d)(false)
    // u_j = M v_j, ORTHOGONALIZED against the already-accepted columns
    // (modified Gram-Schmidt) and renormalized: dividing by a tiny or
    // Jacobi-noisy sigma would hand back non-unit, non-orthogonal
    // columns and a non-orthogonal R on rank-deficient inputs. A column
    // whose residual after orthogonalization is numerically zero is
    // degenerate — left for the canonical completion below.
    var j = 0
    while (j < d) {
      val w = new Array[Double](d)
      var ii = 0
      while (ii < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += m0(ii)(k) * vrows(j)(k); k += 1 }
        w(ii) = s; ii += 1
      }
      var jj = 0
      while (jj < d) {
        if (have(jj)) {
          var dp = 0.0; ii = 0
          while (ii < d) { dp += w(ii) * uCols(jj)(ii); ii += 1 }
          ii = 0
          while (ii < d) { w(ii) -= dp * uCols(jj)(ii); ii += 1 }
        }
        jj += 1
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm > tol) {
        ii = 0
        while (ii < d) { uCols(j)(ii) = w(ii) / nrm; ii += 1 }
        have(j) = true
      }
      j += 1
    }
    // complete near-null directions deterministically
    var next = 0
    j = 0
    while (j < d) {
      if (!have(j)) {
        var placed = false
        while (!placed) {
          require(next < d, "procrustesRotation: basis completion exhausted")
          val cand = Array.tabulate(d)(ii => if (ii == next) 1.0 else 0.0)
          next += 1
          var jj = 0
          while (jj < d) {
            if (have(jj)) {
              var dp = 0.0; var ii = 0
              while (ii < d) { dp += cand(ii) * uCols(jj)(ii); ii += 1 }
              ii = 0
              while (ii < d) { cand(ii) -= dp * uCols(jj)(ii); ii += 1 }
            }
            jj += 1
          }
          val nrm = math.sqrt(cand.map(x => x * x).sum)
          if (nrm > 1e-8) {
            var ii = 0
            while (ii < d) { uCols(j)(ii) = cand(ii) / nrm; ii += 1 }
            have(j) = true; placed = true
          }
        }
      }
      j += 1
    }
    val r = Array.ofDim[Double](d, d)
    i = 0
    while (i < d) {
      var k = 0
      while (k < d) {
        var s = 0.0; var jj = 0
        while (jj < d) { s += uCols(jj)(i) * vrows(jj)(k); jj += 1 }
        r(i)(k) = s; k += 1
      }
      i += 1
    }
    r
  }

  /** Driver-side Lloyd over all m subspaces of the (rotated) sample —
    * same conventions as the distributed trainer: first-minimum
    * assignment ties, empty clusters keep their codeword. */
  private def lloydDriver(x: Array[Array[Double]],
      books0: Array[Array[Array[Double]]], iters: Int): Array[Array[Array[Double]]] = {
    val m = books0.length; val ksub = books0.head.length
    val dsub = books0.head.head.length
    var books = books0
    for (_ <- 1 to iters) {
      val sums = Array.ofDim[Double](m, ksub, dsub)
      val counts = Array.ofDim[Long](m, ksub)
      var i = 0
      while (i < x.length) {
        val xi = x(i)
        var s = 0
        while (s < m) {
          val off = s * dsub
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            val cw = books(s)(c)
            var dd = 0.0; var t = 0
            while (t < dsub) { val df = xi(off + t) - cw(t); dd += df * df; t += 1 }
            if (dd < bestD) { bestD = dd; best = c }
            c += 1
          }
          counts(s)(best) += 1
          var t = 0
          while (t < dsub) { sums(s)(best)(t) += xi(off + t); t += 1 }
          s += 1
        }
        i += 1
      }
      books = Array.tabulate(m, ksub) { (s, c) =>
        if (counts(s)(c) == 0) books(s)(c).clone()
        else { val n = counts(s)(c).toDouble; sums(s)(c).map(_ / n) }
      }
    }
    books
  }

  /** Train an OPQ-rotated [[PqModel]]: the `opqIters`-round alternation
    * of codebook refit and Procrustes rotation update, then a final
    * `iters`-iteration Lloyd polish under the learned R. Deterministic
    * end to end (the same hash-sampled rows and lowest-id init as
    * [[pqTrain]], fixed iteration counts, no RNG). `opqIters = 0`
    * degenerates to plain PQ with no rotation attached. */
  def opqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int = 3, opqIters: Int = 8,
      trainPointsPerCodeword: Int = 256): PqModel =
    opqTrainOn(unitized(corpus, idCol, vecCol, "id"),
      dim, m, ksub, iters, opqIters, trainPointsPerCodeword)

  private[operators] def opqTrainOn(units: DataFrame,
      dim: Int, m: Int, ksub: Int, iters: Int, opqIters: Int,
      trainPointsPerCodeword: Int): PqModel = {
    require(dim % m == 0, s"opqTrain: dim=$dim must divide into m=$m subspaces")
    require(ksub >= 1 && ksub <= 256, s"opqTrain: ksub=$ksub must fit one byte (1..256)")
    require(opqIters >= 0, s"opqTrain: opqIters=$opqIters must be >= 0")
    val dsub = dim / m
    val cap = ksub * trainPointsPerCodeword
    // ONE collect of the bounded sample (round 16): the r15 shape
    // cached the sample and collected it twice (seed sort-limit + full
    // ride) — three Spark actions where one suffices at <= cap rows.
    val sample = units
      .filter(size(col("u")) === lit(dim) && !exists(col("u"), _.isNull))
      .orderBy(xxhash64(col("id"), lit("pqtrain")), col("id"))
      .limit(cap)
      .collect()
    locally {
      val x = sample.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
      require(x.length >= ksub,
        s"opqTrain: corpus has only ${x.length} well-formed vectors — " +
          s"need at least ksub=$ksub (shrink ksub or grow the corpus)")
      // init: subspace slices of the ksub lowest-id vectors (pqTrain's
      // convention), derived driver-side from the already-collected rows
      val seedRows = sample
        .map(r => (r.get(0).asInstanceOf[Number].longValue(), r))
        .sortBy(_._1).take(ksub)
        .map(_._2.getSeq[Number](1).map(_.doubleValue()).toArray)
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m, ksub)((s, c) => seedRows(c).slice(s * dsub, (s + 1) * dsub))
      var rot: Array[Array[Double]] = null // null = identity so far
      val xr = Array.ofDim[Double](x.length, dim)
      def applyRot(): Unit = {
        var i = 0
        while (i < x.length) {
          if (rot == null) System.arraycopy(x(i), 0, xr(i), 0, dim)
          else {
            var a = 0
            while (a < dim) {
              val ra = rot(a); val xi = x(i)
              var s = 0.0; var b = 0
              while (b < dim) { s += ra(b) * xi(b); b += 1 }
              xr(i)(a) = s; a += 1
            }
          }
          i += 1
        }
      }
      for (_ <- 1 to opqIters) {
        applyRot()
        // one Lloyd update per alternation (OPQ-NP convention) — the
        // codebooks warm-start across rounds
        books = lloydDriver(xr, books, 1)
        // cross-covariance of reconstruction vs ORIGINAL data
        val mm = Array.ofDim[Double](dim, dim)
        var i = 0
        while (i < x.length) {
          val xi = x(i); val xri = xr(i)
          var s = 0
          while (s < m) {
            val off = s * dsub
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < ksub) {
              val cw = books(s)(c)
              var dd = 0.0; var t = 0
              while (t < dsub) { val df = xri(off + t) - cw(t); dd += df * df; t += 1 }
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            val cw = books(s)(best)
            var t = 0
            while (t < dsub) {
              val ya = cw(t)
              if (ya != 0.0) {
                val row = mm(off + t)
                var b = 0
                while (b < dim) { row(b) += ya * xi(b); b += 1 }
              }
              t += 1
            }
            s += 1
          }
          i += 1
        }
        rot = procrustesRotation(mm)
      }
      applyRot()
      books = lloydDriver(xr, books, math.max(iters, 1))
      PqModel(books, Option(rot))
    }
  }

  /** Encode the corpus into PQ codes: (id, codes array<tinyint> of
    * length m) — the m-bytes-per-vector layout a compressed index
    * stores and scans. Malformed and zero-norm vectors drop (null codes
    * under the kernel's length contract / the unit-norm filter). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    unitized(corpus, idCol, vecCol, "id")
      .select(col("id"),
        graft.functions.PqFunctions.pqAssignCodes(pqRotated(col("u"), model), model.codebooks).as("codes"))
      .filter(col("codes").isNotNull)

  /**
   * PQ top-k with exact re-rank: ADC-score the code-compressed corpus
   * against each query's lookup table (m tinyint lookups per pair — the
   * only per-pair work), keep a bounded per-query `shortlist` with the
   * same heap aggregate as every other top-k here, then re-rank ONLY
   * the shortlisted rows with exact cosines (a broadcast-able
   * queries x shortlist join back to the full vectors). Output schema
   * and tie-breaks identical to [[topK]]; recall is gated, not assumed
   * (see the ann_pq query). Queries ride broadcast with their tables
   * (m*ksub doubles each); the corpus side never moves and never
   * touches a float vector until the shortlist join.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, model: PqModel, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"pqTopK: shortlist=$shortlist must be >= k=$k")
    val idType = corpus.schema(idCol).dataType
    require(integralIdType(idType),
      s"pqTopK requires an integral id column, got $idType (pre-map ids to long)")
    val codes = pqEncode(corpus, idCol, vecCol, model)
      .select(col("id").cast("long").as("cid"), col("codes"))
    val qtab = unitized(queries, idCol, vecCol, "query_id")
      .select(col("query_id"),
        graft.functions.PqFunctions.pqAdcTable(pqRotated(col("u"), model), model.codebooks).as("tab"))
      .filter(col("tab").isNotNull)
    val scored = codes.crossJoin(broadcast(qtab))
      .filter(col("query_id") =!= col("cid"))
      .withColumn("adc",
        graft.functions.PqFunctions.pqAdcScore(col("codes"), col("tab"), model.m, model.ksub))
      .filter(col("adc").isNotNull)
    // bounded per-query shortlist (ADC order, ties to lower id) ...
    val short = scored.groupBy("query_id")
      .agg(TopKFunctions.topKByScore(col("adc"), col("cid"), shortlist).as("_s"))
      .select(col("query_id"), explode(col("_s.id")).as("neighbor_id"))
    // ... then exact cosines on shortlist rows only
    rerankExact(short, corpus, queries, idCol, vecCol, k, idType,
      nQueriesTimesShortlist(queries, idCol, shortlist))
  }

  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist — the
    * shared refine stage of every compressed probe. When the shortlist
    * is provably bounded (`boundedRows`), it BROADCASTS against the
    * corpus scan: without the hint the join has no size stats for the
    * aggregate-derived shortlist side and falls to a sort-merge join
    * that SORTS THE CORPUS — measured 30.8 s of a 10M-row probe whose
    * scan was 2M rows (r11). The deep rank-engine shortlists exceed the
    * bound and keep the shuffle join (they are genuinely large). */
  private def rerankExact(short: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      idType: org.apache.spark.sql.types.DataType,
      boundedRows: Option[Long]): DataFrame = {
    val cv = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .withColumn("neighbor_id", col("neighbor_id").cast("long"))
    val qv = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val broadcastMax = short.sparkSession.conf
      .getOption("spark.graft.ann.broadcastShortlistRows").map(_.trim.toLong)
      .getOrElse(BroadcastShortlistRows)
    val shortSide =
      if (boundedRows.exists(_ <= broadcastMax)) broadcast(short)
      else short
    val exactScored = shortSide
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(exactScored, k, idType)
  }

  /** Shortlist-side row bound for the broadcast re-rank, overridable
    * via `spark.graft.ann.broadcastShortlistRows`. HONEST size: the 4M
    * (query_id, neighbor_id) rows are ~64 MB of payload but build into
    * a HashedRelation at ~100-150 B/entry (UnsafeRow + hash-table
    * overhead), i.e. ~400-600 MB RESIDENT on the driver and every
    * executor — deliberately past autoBroadcastJoinThreshold because
    * the alternative is a sort-merge join that sorts the full corpus
    * (measured 30.8 s of a 10M probe, r11), and this harness runs one
    * 128 GiB JVM. Deployments with small executors should shrink the
    * conf (1M rows ~ 100-150 MB built) and let deep shortlists take
    * the shuffle join. */
  private val BroadcastShortlistRows = 4000000L

  /** Upper bound on shortlist rows = |queries| x depth. The queries
    * frame is small by contract (it rides broadcast through every
    * probe), so the count is noise next to the probe itself. */
  private def nQueriesTimesShortlist(queries: DataFrame, idCol: String,
      shortlist: Long): Option[Long] =
    Some(queries.select(col(idCol)).count() * shortlist)

  /** One-shot convenience: train + encode + probe (see [[pqTrain]] /
    * [[pqTopK]]; a real deployment trains once and probes many times). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, m: Int, ksub: Int, iters: Int, shortlist: Int): DataFrame =
    pqTopK(corpus, queries, idCol, vecCol, k,
      pqTrain(corpus, idCol, vecCol, dim, m, ksub, iters), shortlist)

  /**
   * Binary-quantized top-k: 1 bit per dimension (8 bytes at d=64 — a
   * 32x compression, the cheapest compressed scan of all), no training.
   * Each vector's coordinate SIGN pattern is packed into longs
   * ([[graft.functions.SignBits]], O(d) map-side); the Hamming distance
   * between two patterns estimates the angle (E[ham] = d*theta/pi —
   * the hyperplane-LSH estimator with the coordinate axes as planes),
   * so per query the corpus is scanned with a popcount-XOR kernel
   * ([[graft.functions.HammingDistance]]), a bounded `shortlist` of
   * smallest-Hamming candidates is kept (ties to lower id), and ONLY
   * those rows are re-ranked with exact cosines — the same refine
   * stage as [[pqTopK]]. Output schema and tie-breaks identical to
   * [[topK]]; recall is gated, not assumed (ann_topk_bq).
   *
   * Zero-norm rows are excluded on both sides (their sign pattern —
   * all-ones for an all-zeros vector — is a plausible signature for a
   * vector with no direction; the cosine contract says they pair with
   * nothing).
   */
  def bqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"bqTopK: shortlist=$shortlist must be >= k=$k")
    val idType = corpus.schema(idCol).dataType
    require(integralIdType(idType),
      s"bqTopK requires an integral id column, got $idType (pre-map ids to long)")
    def sigs(df: DataFrame, idAs: String, sigAs: String): DataFrame =
      prepped(df, idCol, vecCol, idAs, "_v", "_n")
        .select(col(idAs),
          graft.functions.HashFunctions.signBits(col("_v"), dim).as(sigAs))
        .filter(col(sigAs).isNotNull)
    val c = sigs(corpus, "cid", "csig").select(col("cid").cast("long").as("cid"), col("csig"))
    val q = sigs(queries, "query_id", "qsig")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cid"))
      .withColumn("ham",
        graft.functions.HashFunctions.hammingDistance(col("csig"), col("qsig")))
      .filter(col("ham").isNotNull)
    val short = scored.groupBy("query_id")
      .agg(TopKFunctions.topKByScore(col("ham").cast("double"), col("cid"),
        shortlist, largest = false).as("_s"))
      .select(col("query_id"), explode(col("_s.id")).as("neighbor_id"))
    rerankExact(short, corpus, queries, idCol, vecCol, k, idType,
      nQueriesTimesShortlist(queries, idCol, shortlist))
  }

  /**
   * IVF+PQ: the composition billion-scale ANN actually deploys (the
   * FAISS IVFPQ layout, Jegou et al. TPAMI'11 §IV) — the IVF coarse
   * quantizer prunes the scan to `nprobe` of `nlist` cells AND the
   * cells hold 16-byte PQ codes instead of float vectors, so a probe
   * touches `nprobe/nlist` of the corpus at 1/16th the bytes: a 100 TB
   * embedding corpus scans as a few hundred GB of pruned codes.
   *
   * Codes quantize the RESIDUAL `u - c_u(cell)` (unit vector minus the
   * assigned cell's normalized centroid), not the vector itself: on
   * clustered corpora — the shape real embeddings have — the cell
   * center dominates a globally-quantized code, every cluster-mate
   * encodes near-identically, and the ADC shortlist cannot rank within
   * a cluster (measured collapse: recall@10 0.25 at n=1M clustered,
   * ANNBENCH_r9). Residual encoding spends the codebook's resolution
   * on exactly those within-cell differences. Scoring uses the
   * decomposition `cos(q, v) ~ dot(q_u, c_u) + dot(q_u, r)`: the
   * residual term comes from ONE global ADC table per query (the
   * codebook is shared across cells), and the cell term is a scalar
   * recovered FREE from the probe distances on unit vectors —
   * `dot(q_u, c_u) = 1 - |q_u - c_u|^2 / 2` — so no per-cell tables
   * exist. The shortlist heap and exact re-rank are the same machinery
   * as [[pqTopK]].
   *
   * Exactness property (spec-gated): at `nprobe = nlist` and
   * `shortlist >= corpus`, the result EQUALS [[topK]] — pruning and
   * compression only ever narrow the candidate set, the final ranking
   * is exact cosine.
   */
  /** Depth ceiling for the HEAP shortlist engine: a bounded per-query
    * top-k aggregate holds the full depth in every partial-aggregate
    * buffer, so past this the probe selects via the spill-safe window
    * rank instead (external sort — disk, not executor memory). */
  private[graft] val HeapShortlistMax: Int = 65536

  /** Refine-depth rule, Long end to end (at corpus scale a worst-case
    * scan past ~25.8B rows would wrap an Int cast negative and silently
    * bind the floor — exactly the regime the rule exists for):
    *
    *   depth = max(floor, min(scan, max(HeapShortlistMax, scan/12)))
    *
    * three regimes, monotone in the scan —
    *  - scan <= 65536: re-rank EVERYTHING scanned. Compressed-code
    *    selection cannot beat exactness when exactness is affordable;
    *    this is what makes narrow CALIBRATED probes work at m=16 (r11:
    *    clustered 10M at nprobe=1 scanned ~41k rows, and the old
    *    1/12 rule's 3.4k depth collapsed recall to 0.26 even though
    *    cell recall was 0.998 — the information was one broadcast-able
    *    re-rank away).
    *  - 65536 < scan <= ~786k: the heap-engine ceiling — bounded
    *    memory, recall-safer than 1/12 in the regime where 1/12 would
    *    dip below it.
    *  - above: 1/12 of the scan (the r10-measured wide-cluster knee),
    *    on the spill-safe rank engine.
    *
    * Clamps at Int.MaxValue (`row_number`'s range) loudly. */
  private[graft] def autoShortlistRule(worstScan: Long, k: Int, nprobe: Int): Int = {
    val floor = math.max(2L * k, 200L)
    val pick = math.max(floor,
      math.min(worstScan, math.max(HeapShortlistMax.toLong, worstScan / 12L)))
    if (pick > Int.MaxValue.toLong) {
      System.err.println(
        s"[graft] autoShortlist: the 1/12-of-scan rule wants $pick candidates " +
          s"(worst-case scan $worstScan over the $nprobe widest cells) but " +
          s"row_number caps at ${Int.MaxValue} — a multi-billion-row re-rank " +
          "means the cells are far too wide; grow nlist.")
      Int.MaxValue
    } else {
      if (pick > HeapShortlistMax) System.err.println(
        s"[graft] autoShortlist: depth $pick exceeds the heap ceiling " +
          s"$HeapShortlistMax — selecting via the spill-safe rank engine.")
      pick.toInt
    }
  }

  final class IvfPqIndex private[operators] (
      private[graft] val assignCentroids: Array[Array[Double]], // raw means: cell choice
      private[graft] val unitCentroids: Array[Array[Double]],   // normalized: cdot scalar
      val model: PqModel,
      private[graft] val coded: DataFrame, // (c, id long, codes)
      private[operators] val idType: org.apache.spark.sql.types.DataType,
      // the VERIFIED layout assignment rule inherited from the coarse
      // quantizer build (see buildIvfCached) — appends and calibration
      // sampling must place rows exactly as the coded layout did
      private[graft] val assignTwoLevel: Boolean = false,
      // the pinned spill (see IvfIndex.assignSpill — ADVICE r13)
      private[graft] val assignSpill: Int = TwoLevelSpill,
      // registered-but-uncompacted deletions — see IvfIndex.tombstones
      private[operators] val tombstones: Option[DataFrame] = None,
      private[operators] val tombstoneCount: Long = 0L,
      // the snapshot layout directory, when this index was LOADED from
      // one (round 17): cell widths then come from parquet footers
      // driver-side instead of a full-layout counting job — see
      // [[cellWidthsDesc]]. None on in-memory builds.
      private[operators] val layoutPath: Option[String] = None) {

    /** Release the pinned coded layout ([[Similarity.buildIvfPq]]
      * materializes it). A loaded snapshot reads from parquet — calling
      * this on one is a harmless no-op. */
    def unpersist(): IvfPqIndex = { coded.unpersist(blocking = false); this }

    // calibration memo — see [[IvfIndex.calibrateNprobe]]'s memo notes
    private val calibMemo =
      scala.collection.mutable.Map.empty[(Double, Int, Int, Long), Int]
    /** Test hook: calibration SCANS run (memo hits don't increment). */
    private[graft] var calibrationScans: Int = 0
    /** Seed the memo from a snapshot ([[Similarity.loadIvfPq]]). */
    private[operators] def preloadCalibration(
        entries: Seq[((Double, Int, Int, Long), Int)]): IvfPqIndex = {
      calibMemo ++= entries; this
    }
    private[operators] def calibrationEntries: Seq[((Double, Int, Int, Long), Int)] =
      calibMemo.toSeq

    /**
     * Refine-depth AUTO-TUNE (round 10): the recall knob at FIXED index
     * bytes. At high compression (m=16 — 16 B/vector) the ADC score's
     * within-cluster discrimination is noise-limited on densely
     * clustered corpora, so recall@10 tracks the FRACTION of the
     * scanned candidates that reaches the exact re-rank, not the code
     * precision: measured at n=1M/64 clusters/nprobe=62-of-250
     * (ANNBENCH corpus), recall@10 = 0.43 / 0.62 / 0.84 / 1.00 at
     * shortlist 2000 / 4000 / 8000 / 16000 — with PROBE TIME FLAT
     * (3.7 -> 3.3 s), because the shortlist heap dominates and the
     * re-rank join stays bounded. The rule sizes the shortlist at 1/12
     * of the worst-case scan (the `nprobe` widest cells), floored at
     * max(2k, 200). Depths past [[Similarity.HeapShortlistMax]] switch
     * the selection engine from the bounded per-query heap to a
     * SPILL-SAFE rank (window `row_number`, external sort) — see
     * [[topK]] — so the depth is no longer memory-clamped: wide-cluster
     * corpora (r10's clustered n=10M, ~156k-row cells) get the full
     * 1/12-of-scan depth instead of the 65536 ceiling that held recall
     * at 0.82. One groupBy-count job over the coded layout per call
     * (nlist rows to the driver).
     */
    /** ALL cell widths, descending, memoized — valid only while nothing
      * is tombstoned (the widths are then a pure function of the
      * immutable layout this instance snapshot-read; the surviving-rows
      * contract of ADVICE r15 routes tombstoned indexes to the live
      * job in [[autoShortlist]]). On a LOADED snapshot the widths come
      * from the cell partitions' parquet FOOTERS driver-side (round
      * 17) — at wide nlist that replaces a full-layout counting job
      * per probe (the r16 shape re-ran it on EVERY auto-depth probe of
      * the same index) with one bounded metadata sweep. In-memory
      * builds keep one counting job, memoized the same way. */
    private lazy val cellWidthsDesc: Array[Long] = {
      val fromFooters = layoutPath.flatMap(p =>
        layoutCellWidths(coded.sparkSession, s"$p/layout"))
      fromFooters.getOrElse {
        coded.groupBy("c").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc)
          .collect().map(_.getLong(1))
      }
    }

    def autoShortlist(k: Int, nprobe: Int): Int = {
      // occupancies of the SURVIVING rows (ADVICE r15): tombstoned rows
      // are dropped before the shortlist heap ever sees them, so depths
      // sized on counts that include them would overstate the scan —
      // with live tombstones the widths are computed by the (anti-
      // joined) counting job; untombstoned indexes read the memoized
      // static widths (footer-derived on loaded snapshots)
      val widths =
        if (tombstoneCount > 0)
          antiTombstones(coded, tombstones, tombstoneCount)
            .groupBy("c").agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc).limit(nprobe)
            .collect().map(_.getLong(1))
        else cellWidthsDesc.take(nprobe)
      autoShortlistRule(widths.sum, k, nprobe)
    }

    /** [[IvfIndex.calibrateNprobe]] for this index's OWN coarse
      * quantizer: the corpus pool is unit-normalized (vn = 1 by
      * construction) and only the bounded sample slice is assigned to
      * `assignCentroids` inside the shared estimator. Pass the same
      * corpus the probes re-rank against — the memo keys on the
      * estimator params only (one index serves one corpus; a different
      * corpus means a different/retrained index). The counting pass
      * reuses the materialized coded layout (persisted at build,
      * metadata-cheap on a loaded snapshot). */
    def calibrateNprobe(corpus: DataFrame, idCol: String, vecCol: String,
        targetCellRecall: Double = 0.95, sampleQueries: Int = 32,
        neighborsPerQuery: Int = 10, maxSampleRows: Long = 500000L): Int =
      // the pool excludes tombstoned rows (ADVICE r15) — the re-earned
      // width after a delete must reflect the SURVIVING corpus (see
      // IvfIndex.calibrateNprobe)
      calibrateNprobeWithPool(
        antiTombstones(
          unitized(corpus, idCol, vecCol, "id")
            .select(col("id"), col("u").as("v"), lit(1.0).as("vn")),
          tombstones, tombstoneCount),
        targetCellRecall, sampleQueries, neighborsPerQuery, maxSampleRows)

    /** [[calibrateNprobe]] with a caller-supplied unit-vector pool —
      * the build path ([[annBuildIvfPq]]) feeds the estimator from its
      * still-persisted trainer cache instead of re-unitizing the source
      * corpus (the r12 shape paid the interpreted normalization twice —
      * ~48 s of the 10M-tier calibration). Same rows, same result; the
      * memo is shared with the corpus form. */
    private[graft] def calibrateNprobeWithPool(pool: DataFrame,
        targetCellRecall: Double, sampleQueries: Int = 32,
        neighborsPerQuery: Int = 10, maxSampleRows: Long = 500000L): Int =
      calibMemo.getOrElseUpdate(
        (targetCellRecall, sampleQueries, neighborsPerQuery, maxSampleRows), {
          calibrationScans += 1
          // the layout row count is only a valid pool-size hint while no
          // rows are tombstoned (the pool is anti-joined — see
          // calibrateNprobe); with tombstones the estimator counts the
          // surviving pool itself
          val hint = if (tombstoneCount == 0) Some(coded.count()) else None
          calibrateNprobeFrom(pool, assignCentroids, assignTwoLevel,
            assignSpill, hint,
            targetCellRecall, sampleQueries, neighborsPerQuery, maxSampleRows)
        })

    /** `shortlist <= 0` selects [[autoShortlist]]. */
    def topK(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int, shortlist: Int,
        corpus: DataFrame): DataFrame = {
      val shortlist0 = if (shortlist <= 0) {
        val a = autoShortlist(k, nprobe)
        System.err.println(s"[graft] IvfPqIndex.topK: auto shortlist = $a")
        a
      } else shortlist
      topKWith(queries, idCol, vecCol, k, nprobe, shortlist0, corpus)
    }

    private def topKWith(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int, shortlist: Int,
        corpus: DataFrame): DataFrame = {
      require(shortlist >= k, s"IvfPqIndex.topK: shortlist=$shortlist must be >= k=$k")
      // probed cells per query (bounded: queries x nprobe), same probe
      // shape as IvfIndex.topK — pinned to one evaluation, cells turned
      // into a literal isin for static pruning on a saved layout. Cell
      // CHOICE uses the same raw-mean centroids the corpus was assigned
      // with (probing by a different centroid set would look for
      // neighbors in cells they were never stored in); the cdot scalar
      // needs the UNIT centroid — dot(q_u, c_u) = 1 - d2u/2 — so a
      // second distance array rides along and the chosen cell indexes
      // into it.
      val q = unitized(queries, idCol, vecCol, "query_id")
      val dists = graft.functions.HashFunctions.centroidDistances(col("u"), assignCentroids)
      val distsU = graft.functions.HashFunctions.centroidDistances(col("u"), unitCentroids)
      val probed = q.select(col("query_id"), col("u"), distsU.as("du"),
          posexplode(dists).as(Seq("ci", "d")))
        .groupBy("query_id")
        .agg(first(col("u")).as("u"), first(col("du")).as("du"),
          TopKFunctions.topKByScore(col("d"), col("ci").cast("long"), nprobe, largest = false)
            .as("_cells"))
        .select(col("query_id"), col("du"),
          graft.functions.PqFunctions.pqAdcTable(pqRotated(col("u"), model), model.codebooks).as("tab"),
          posexplode(col("_cells")).as(Seq("_r", "_cell")))
        .select(col("query_id"), col("tab"),
          col("_cell.id").cast("int").as("c"),
          (lit(1.0) - element_at(col("du"), col("_cell.id").cast("int") + 1) / 2).as("cdot"))
        // LAZY checkpoint (round 17, VERDICT r16 item 4): the fused
        // aggregate below materializes the pinned probe set, collects
        // the probed cell set, AND counts the queries in ONE driver
        // round-trip — the r16 shape paid three sequential actions
        // (eager checkpoint, cells collect, query count) per probe.
        .localCheckpoint(false)
      val (cells, nQ) = {
        val row = probed.agg(collect_set(col("c")).as("_cells"),
          count_distinct(col("query_id")).as("_nq")).head()
        (row.getSeq[Int](0).toArray, row.getLong(1))
      }
      val scored = probed.join(
          antiTombstones( // deleted ids never score (see deleteFromIndex)
            coded.filter(col("c").isin(cells.map(Integer.valueOf): _*)),
            tombstones, tombstoneCount), "c")
        .filter(col("query_id") =!= col("id"))
        .withColumn("adc", col("cdot") +
          graft.functions.PqFunctions.pqAdcScore(col("codes"), col("tab"), model.m, model.ksub))
        .filter(col("adc").isNotNull)
      // Shortlist selection runs on one of two engines by depth:
      //  - heap (depth <= HeapShortlistMax): bounded per-query top-k
      //    aggregate — map-side partial heaps, nothing sorts, the right
      //    engine for the usual few-hundred-to-few-thousand depths.
      //  - rank (deeper): window row_number over (adc desc, id) — the
      //    heap would hold the full depth in EVERY partial-aggregate
      //    buffer, while Spark's window sort is an external (spilling)
      //    sort of the scanned candidates, so arbitrarily deep refine
      //    lists cost disk, not executor memory. This is what lifts the
      //    r10 65536 recall clamp on wide-cluster corpora.
      val short =
        if (shortlist <= HeapShortlistMax)
          scored.groupBy("query_id")
            .agg(TopKFunctions.topKByScore(col("adc"), col("id"), shortlist).as("_s"))
            .select(col("query_id"), explode(col("_s.id")).as("neighbor_id"))
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("query_id").orderBy(col("adc").desc, col("id").asc)
          scored.select(col("query_id"), col("id").as("neighbor_id"),
              row_number().over(w).as("_rn"))
            .filter(col("_rn") <= shortlist)
            .select(col("query_id"), col("neighbor_id"))
        }
      // query count came from the PINNED probe set (the fused aggregate
      // above) — no extra evaluation of a possibly-nondeterministic
      // queries frame
      rerankExact(short, corpus, queries, idCol, vecCol, k, idType,
        Some(nQ * shortlist.toLong))
    }

    /**
     * Serve a STREAM of query vectors against this index — the online
     * ANN serving path (a retrieval endpoint fed by a query queue):
     * each micro-batch probes with the full [[topK]] pipeline via
     * `foreachBatch` (the probe's bounded cell-collect makes it a
     * driver-side batch operator, the same structural reason the
     * ingestion-dedup admission runs per batch) and appends its
     * results to a parquet sink; AvailableNow drains the backlog and
     * the accumulated results are returned. Queries are independent of
     * each other, so the drain is EXACTLY the batch probe of the same
     * query set regardless of how the stream was batched — the
     * stream_ann_probe gate asserts that equality row for row.
     * `sinkDir` must be fresh per drain (results append; the
     * checkpoint pins the stream's progress to it).
     */
    def topKStream(queryStream: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int, shortlist: Int, corpus: DataFrame,
        sinkDir: String): DataFrame = {
      require(queryStream.isStreaming, "topKStream needs a streaming queries frame")
      val spark = queryStream.sparkSession
      // pre-write the (empty) result schema so a query-less drain still
      // reads back a well-formed empty frame
      topK(corpus.limit(0), idCol, vecCol, k, nprobe, shortlist, corpus)
        .write.mode("overwrite").parquet(s"$sinkDir/results")
      val q = queryStream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          topK(batch, idCol, vecCol, k, nprobe, shortlist, corpus)
            .write.mode("append").parquet(s"$sinkDir/results")
        }
        .option("checkpointLocation", s"$sinkDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$sinkDir/results")
    }

    /** Snapshot the index: coded layout as parquet PARTITIONED BY cell
      * id (a probe's cell isin literal becomes a static partition
      * filter — nprobe/nlist of the files are read, which at corpus
      * scale is the whole point), plus tiny side tables for the unit
      * centroids, the residual codebooks, and the id type. Train once
      * per corpus snapshot; [[Similarity.loadIvfPq]] is the inverse. */
    def save(path: String): Unit = {
      val spark = coded.sparkSession
      import spark.implicits._
      // layout + 6 side tables write CONCURRENTLY (round 16, guide
      // §2.6): each lands in its own subdirectory, so the commits are
      // independent and the save pays the slowest write instead of the
      // sum of seven sequential job latencies (~1.5 s of pure driver
      // round-trips per save at any scale). The layout is written WITHOUT
      // its tombstoned rows, as in IvfIndex.save.
      writeSnapshot(spark, path, Seq(
        () => writeLayout(antiTombstones(coded, tombstones, tombstoneCount),
          s"$path/layout", overwrite = true),
        () => unitCentroids.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
          .toDF("c", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids"),
        () => assignCentroids.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
          .toDF("c", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids_assign"),
        () => model.codebooks.zipWithIndex.flatMap { case (book, s) =>
          book.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) }
        }.toSeq.toDF("s", "cw", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks"),
        // OPQ rotation rows, written even when absent (0 rows) so load
        // never has to probe the filesystem for an optional directory
        () => model.rotation.map(_.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq)
          .getOrElse(Seq.empty[(Int, Seq[Double])])
          .toDF("i", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation"),
        () => Seq(idType.json).toDF("id_type")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta"),
        // calibrated widths travel with the snapshot (see saveCalibration)
        () => saveCalibration(spark, path, calibrationEntries),
        // the verified layout assignment rule travels too
        () => saveAssignRule(spark, path, assignTwoLevel, assignSpill)))
    }
  }

  /** Reload an [[IvfPqIndex.save]] snapshot: the layout scan stays
    * partitioned by cell id, no retraining happens. */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    recoverCompaction(spark, path)
    // the eight independent side-table reads run CONCURRENTLY (round 16,
    // guide §2.6) — each is a driver round-trip (listing + footer +
    // tiny collect), and the load was paying their sum (~1.5 s at any
    // scale; validation of the collected values stays on the caller
    // thread below)
    val io = ioParallel(Seq(
      () => spark.read.parquet(s"$path/centroids")
        .orderBy("c").collect()
        .map(_.getSeq[Number](1).map(_.doubleValue()).toArray),
      () => spark.read.parquet(s"$path/centroids_assign")
        .orderBy("c").collect()
        .map(_.getSeq[Number](1).map(_.doubleValue()).toArray),
      () => spark.read.parquet(s"$path/codebooks")
        .orderBy("s", "cw").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Number](2).map(_.doubleValue()).toArray)),
      () => org.apache.spark.sql.types.DataType.fromJson(
        spark.read.parquet(s"$path/meta").head().getString(0)),
      // rotation: absent directory (pre-OPQ snapshot) or 0 rows both
      // mean no rotation — the axis-aligned model
      () => try {
        val rows = spark.read.parquet(s"$path/rotation")
          .orderBy("i").collect()
          .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
        if (rows.isEmpty) None else Some(rows)
      } catch { case _: org.apache.spark.sql.AnalysisException => None },
      () => loadAssignRule(spark, path),
      () => tombstonesOf(spark, path),
      () => loadCalibration(spark, path),
      () => spark.read.parquet(s"$path/layout")))
    val cents = io(0).asInstanceOf[Array[Array[Double]]]
    require(cents.nonEmpty, s"loadIvfPq: no centroids under $path/centroids")
    val aCents = io(1).asInstanceOf[Array[Array[Double]]]
    require(aCents.length == cents.length,
      s"loadIvfPq: assignment/unit centroid counts differ under $path")
    val bookRows = io(2).asInstanceOf[Array[(Int, Int, Array[Double])]]
    require(bookRows.nonEmpty, s"loadIvfPq: no codebooks under $path/codebooks")
    val m = bookRows.map(_._1).max + 1
    val books = Array.tabulate(m)(s => bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
    val idType = io(3).asInstanceOf[org.apache.spark.sql.types.DataType]
    val rotation = io(4).asInstanceOf[Option[Array[Array[Double]]]]
    val (twoLevel, spill) = io(5).asInstanceOf[(Boolean, Int)]
    val (tomb, tombCount) = io(6).asInstanceOf[(Option[DataFrame], Long)]
    new IvfPqIndex(aCents, cents, PqModel(books, rotation),
      io(8).asInstanceOf[DataFrame], idType,
      assignTwoLevel = twoLevel, assignSpill = spill,
      tombstones = tomb, tombstoneCount = tombCount,
      layoutPath = Some(path))
      .preloadCalibration(io(7).asInstanceOf[Seq[((Double, Int, Int, Long), Int)]])
  }

  /**
   * Append new vectors to a saved [[IvfPqIndex.save]] snapshot WITHOUT
   * retraining — the daily-ingestion path, mirroring [[appendToIvf]]:
   * each new vector unit-normalizes, assigns to its nearest EXISTING
   * cell (the same raw-mean centroids the corpus was assigned with),
   * encodes its residual against that cell's unit centroid with the
   * EXISTING codebooks, and parquet-appends into the cell-partitioned
   * layout — partition pruning intact, centroids and codebooks
   * untouched. The operational contract is the same as appendToIvf:
   * append daily, re-earn the recall gate on the merged index, retrain
   * when drift says so (appended data far from the training
   * distribution quantizes coarsely — residual codebooks were fitted
   * to the ORIGINAL corpus's residuals). Zero-norm and malformed
   * vectors drop under the standard contracts. Returns the number of
   * rows appended.
   */
  def appendToIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Long = {
    val idx = loadIvfPq(spark, path)
    require(newVectors.schema(idCol).dataType == idx.idType,
      s"appendToIvfPq: $idCol type ${newVectors.schema(idCol).dataType} does not " +
        s"match the snapshot's ${idx.idType} (cast the new rows first)")
    val units = unitized(newVectors, idCol, vecCol, "id")
    val assigned = units
      .withColumn("c",
        assignCellsChosen(col("u"), idx.assignCentroids, idx.assignTwoLevel,
          idx.assignSpill))
      .filter(col("c").isNotNull)
      .select(col("c"), col("id").cast("long").as("id"),
        graft.functions.PqFunctions.pqAssignCodes(
          pqRotated(
            graft.functions.PqFunctions.centroidSubtract(col("u"), col("c"), idx.unitCentroids),
            idx.model),
          idx.model.codebooks).as("codes"))
      .filter(col("codes").isNotNull)
      .persist()
    try {
      val n = assigned.count()
      writeLayout(assigned, s"$path/layout", overwrite = false)
      // appended rows change the cell occupancies the calibrated widths
      // were measured against — a stale persisted width would silently
      // under-probe, so the snapshot's calibration table is DROPPED (the
      // operational contract: append, then re-earn the recall gate /
      // recalibrate, which re-persists on the next save)
      dropCalibration(spark, path)
      untombstone(spark, path, assigned.select(col("id")))
      n
    } finally assigned.unpersist(blocking = false)
  }

  /** Build an [[IvfPqIndex]]: IVF centroids over the UNIT-normalized
    * corpus, then one global PQ codebook over the per-cell residuals
    * `u - c_u(cell)` (see [[IvfPqIndex]] for why residuals); the coded
    * layout derives from the IVF assignment in ONE map pass (cell id +
    * residual codes per row, no join). */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nlist: Int = 16, ivfIters: Int = 3,
      m: Int = 16, ksub: Int = 32, pqIters: Int = 3,
      opqIters: Int = 0, trainPointsPerCentroid: Int = 256): IvfPqIndex = {
    val (idx, cached) = buildIvfPqCached(corpus, idCol, vecCol, dim, nlist,
      ivfIters, m, ksub, pqIters, opqIters, trainPointsPerCentroid)
    cached.unpersist(blocking = false)
    idx
  }

  /** [[buildIvfPq]] that RETAINS the trainer's unitized (id, v=u, _wf)
    * cache (see [[buildIvfCached]]) so the caller can feed one more
    * bounded pass — probe calibration — from memory instead of
    * re-unitizing the source. The CALLER owns the unpersist. */
  private[graft] def buildIvfPqCached(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int,
      nlist: Int = 16, ivfIters: Int = 3,
      m: Int = 16, ksub: Int = 32, pqIters: Int = 3,
      opqIters: Int = 0, trainPointsPerCentroid: Int = 256): (IvfPqIndex, DataFrame) = {
    val units = unitized(corpus, idCol, vecCol, "id")
    // retain the trainer's (id, v=u, _wf) cache: every downstream pass
    // in this build reads it instead of re-scanning (and re-unitizing)
    // the source — the r11 shape re-paid the interpreted normalization
    // plus a full O(n·nlist·d) assignment into a 10M-row, ~5 GB residual
    // persist whose ONLY full-width consumer was the encode (the PQ
    // trainer reads a bounded sample). VERDICT r11 item 3.
    val (ivf, cached) = buildIvfCached(units, "id", "u", dim, nlist, ivfIters,
      trainPointsPerCentroid)
    try {
      // normalized centroids: the scoring decomposition needs UNIT cell
      // directions (a centroid is a mean of unit vectors — inside the
      // sphere, not on it). A degenerate zero-norm centroid (empty cell)
      // stays all-zeros: its cdot is a harmless constant for a cell that
      // holds nothing.
      val unitCents = ivf.centroids.map { cvec =>
        val n = math.sqrt(cvec.map(x => x * x).sum)
        if (n > 0) cvec.map(_ / n) else cvec
      }
      val wf = cached.filter(col("_wf")).select(col("id"), col("v"))
      // nearest-cell + residual — the allocation-free argmin kernel
      // (ties to the lower cell, spec-gated identical to the
      // materializing array_position form)
      def withResidual(df: DataFrame): DataFrame =
        df.withColumn("c",
            assignCellsChosen(col("v"), ivf.centroids, ivf.assignTwoLevel,
              ivf.assignSpill))
          .filter(col("c").isNotNull)
          .select(col("id"), col("c"),
            graft.functions.PqFunctions.centroidSubtract(col("v"), col("c"), unitCents).as("u"))
      // m/ksub = AUTO (VERDICT r15 item 2; trigger REBUILT in round 17
      // after VERDICT r16 item 1): resolve the code size from the
      // estimated PROBED CANDIDATE MASS — the sum of the calibrated
      // nprobe densest cells' occupancies, i.e. the worst-case scan a
      // recall-honest probe of this index will rank by ADC score. The
      // measured mechanism (diagnostics/annbench_r16.jsonl): 16-byte
      // residual codes quantize candidates to ADC-indistinguishable
      // scores out to depth 1,555,800 on the 1e8 clustered corpus
      // (184,400 at 32 bytes), so once the probed mass reaches that
      // order the scan/12 shortlist degrades toward a weak sample and
      // recall collapses (0.342-0.466 vs >= 0.99). The r16 trigger
      // thresholded the single densest cell and could not fire there —
      // the calibrated probe covers the query's whole latent cluster
      // (27 cells, 1.32M rows) while no one cell crossed the threshold.
      // Probe: (1) the EXISTING nprobe calibration estimator at the
      // conf cell-recall target gives the reference probe width (its
      // result seeds the index's calibration memo, so an nprobe=auto
      // probe of this build pays no second scan); (2) cell occupancies
      // estimated on a bounded deterministic hash sample (<= ~1M rows,
      // one job); mass = sum of the top-nprobe estimated occupancies.
      // Above [[DenseProbedMassThreshold]] resolve 32x256 codes (2x
      // bytes, 2^8-resolution codebooks), else the documented 16x32
      // default — small corpora can never cross (mass <= n), so every
      // small-SF gate stays byte-stable while the zero-knowledge path
      // self-corrects exactly where the defect was measured.
      val codeAuto = m == AutoCodeSentinel || ksub == AutoCodeSentinel
      val (mR, ksubR) =
        if (!codeAuto) (m, ksub)
        else {
          val conf = corpus.sparkSession.conf
          // threshold conf-overridable (`spark.graft.ann.denseCellThreshold`)
          // so the dense branch is spec-testable at unit scale and the
          // cutover is tunable per deployment; default = the measured band
          val threshold = conf.getOption("spark.graft.ann.denseCellThreshold")
            .map(_.trim.toLong).getOrElse(DenseProbedMassThreshold)
          val calTarget = conf.getOption("spark.graft.ann.cellRecallTarget")
            .map(_.trim.toDouble).getOrElse(0.95)
          // reference probe width at the recall-honest operating point —
          // the same estimator (same pool, same params) a probe-time
          // `nprobe=auto` would run, so the memoized width is reusable
          val nprobeRef = ivf.calibrateNprobeWithPool(
            wf.select(col("id"), col("v"), lit(1.0).as("vn")), calTarget)
          val n = ivf.rowCountHint.getOrElse(wf.count())
          val every = math.max(1L, n / DenseCellProbeCap)
          val sampled =
            if (every == 1L) wf
            else wf.filter(
              pmod(xxhash64(col("id"), lit("msample")), lit(every)) === 0)
          val topW = sampled
            .select(assignCellsChosen(col("v"), ivf.centroids,
              ivf.assignTwoLevel, ivf.assignSpill).as("c"))
            .filter(col("c").isNotNull)
            .groupBy("c").agg(count(lit(1)).as("w"))
            .orderBy(col("w").desc, col("c"))
            .limit(nprobeRef)
            .collect().map(_.getLong(1))
          val massEst = topW.sum * every
          val pick0 =
            if (massEst > threshold) (DenseCellM, DenseCellKsub)
            else (DefaultPqM, DefaultPqKsub)
          // the dense pick must divide the embedding width (ADVICE r16:
          // dim=48/80/112 corpora crossed the threshold into a crash) —
          // downgrade to the largest divisor of dim at or under it
          val pick =
            if (dim % pick0._1 == 0) pick0
            else {
              val mFit = (pick0._1 to 1 by -1).find(dim % _ == 0).get
              System.err.println(
                s"[graft] m=auto: dim=$dim not divisible by ${pick0._1} — " +
                  s"downgrading to m=$mFit")
              (mFit, pick0._2)
            }
          // mixed explicit/auto resolves coherently (ADVICE r16): the
          // probe fills ONLY the auto knob; an explicit one always pins
          val resolved = (
            if (m == AutoCodeSentinel) pick._1 else m,
            if (ksub == AutoCodeSentinel) pick._2 else ksub)
          System.err.println(
            s"[graft] m=auto: probed-mass est $massEst over top-$nprobeRef " +
              s"cells (sample 1/$every of $n rows, threshold $threshold) " +
              s"-> m=${resolved._1}, ksub=${resolved._2}")
          resolved
        }
      // The PQ trainer fits on a bounded deterministic sample whose
      // SELECTION depends only on ids (lowest xxhash64(id, "pqtrain"),
      // ties to lower id — exactly the rows pqTrainOn/opqTrainOn would
      // keep from the full residual frame, so the codebooks are
      // bit-identical to the r11 path) — so pick the rows FIRST and
      // assign/subtract only those: ksub*256 kernel rows instead of n.
      val sampleResid0 = withResidual(
        wf.orderBy(xxhash64(col("id"), lit("pqtrain")), col("id"))
          .limit(ksubR * 256))
        .select(col("id"), col("u"))
      // opqIters = -1 is the AUTO sentinel (round 15, VERDICT r14 item
      // 5): probe the residual sample's covariance SPECTRUM and rotate
      // only when it is genuinely anisotropic. The probe must be
      // rotation-invariant — a Hadamard-mixed anisotropic corpus has
      // EQUAL per-dimension variances, so a per-dim probe would read
      // exactly the corpus OPQ helps as isotropic — hence eigenvalues
      // (one vectorGram pass over the bounded sample + the d x d Jacobi
      // solve PCA already uses, microseconds at d=64). The sample is
      // persisted because the probe adds a second bounded consumer.
      val probeOpq = opqIters < 0
      val sampleResid = if (probeOpq) sampleResid0.persist() else sampleResid0
      val resolvedOpqIters =
        if (!probeOpq) opqIters
        else {
          val pr = participationRatio(
            pcaFit(sampleResid, "u", dim).eigenvalues)
          val pick = if (pr < dim * OpqAutoParticipationFrac) OpqAutoIters else 0
          System.err.println(
            f"[graft] opqIters=auto: residual spectrum participation " +
              f"ratio $pr%.1f of $dim -> opqIters=$pick")
          pick
        }
      // resolvedOpqIters > 0 learns the Procrustes rotation over the
      // residual sample (OPQ — see [[PqModel.rotation]]); 0 keeps the
      // axis-aligned split. Both trainers cap at the same deterministic
      // sample.
      val model =
        try {
          if (resolvedOpqIters > 0)
            opqTrainOn(sampleResid, dim, mR, ksubR, pqIters, resolvedOpqIters,
              trainPointsPerCodeword = 256)
          else pqTrainOn(sampleResid, dim, mR, ksubR, pqIters,
            trainPointsPerCodeword = 256)
        } finally if (probeOpq) sampleResid.unpersist(blocking = false)
      // ONE fused full-corpus pass — assign + residual + encode — from
      // the retained cache straight into the persisted coded layout
      // (MATERIALIZED here: an index build's product is its layout;
      // leaving it lazy would re-pay the chain on the first probe and
      // once per downstream branch). Callers drop it with
      // IvfPqIndex.unpersist() when done; save() writes it to parquet.
      val coded = withResidual(wf)
        .select(col("c"), col("id").cast("long").as("id"),
          graft.functions.PqFunctions.pqAssignCodes(pqRotated(col("u"), model), model.codebooks).as("codes"))
        .filter(col("codes").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      coded.count()
      // widths the code-size probe already earned transfer to the built
      // index (same centroids, same assignment rule, same pool rows) —
      // a probe-time `nprobe=auto` on this build hits the memo instead
      // of re-running the calibration scan
      (new IvfPqIndex(ivf.centroids, unitCents, model, coded,
        corpus.schema(idCol).dataType,
        assignTwoLevel = ivf.assignTwoLevel,
        assignSpill = ivf.assignSpill)
        .preloadCalibration(ivf.calibrationEntries), cached)
    } catch {
      case t: Throwable => cached.unpersist(blocking = false); throw t
    }
  }

  /** One-shot convenience: build + probe (a real deployment builds the
    * index once per corpus snapshot and probes many times). The result
    * is materialized (`localCheckpoint`) so the transient index's
    * pinned coded layout can be RELEASED before returning — without
    * that, every one-shot call leaked a session-lifetime cached frame
    * (disk-backed blocks are not LRU-reclaimed until unpersist). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 32, shortlist: Int = 200,
      opqIters: Int = 0): DataFrame = {
    val idx = buildIvfPq(corpus, idCol, vecCol, dim, nlist, 3, m, ksub, 3, opqIters)
    try idx.topK(queries, idCol, vecCol, k, nprobe, shortlist, corpus).localCheckpoint()
    finally idx.unpersist()
  }

  // ------------------------------------------------------------------
  // Config-driven ANN surface: the tuning knowledge from the ANNBENCH
  // grids, exposed where a user at scale actually is — session conf.
  // ------------------------------------------------------------------

  /**
   * One documented ANN entry point driven by session configuration —
   * `spark.graft.ann.*`:
   *
   *  - `algo`      exact | int8 | bq | pq | ivf | ivfpq   (default exact)
   *  - `nlist`     IVF cells (default 16), or `auto` — ~sqrt(n)/4 from
   *                the corpus's well-formed row count
   *                ([[autoNlist]]; floor 16, cap 65536) — at 10M+ the
   *                fixed 16 is a 6%-of-corpus scan per probed cell
   *  - `nprobe`    probed cells (default 12; recall knob #1), or `auto`
   *                — calibrated from the measured cell-recall estimate
   *                at `cellRecallTarget` (default 0.95; see
   *                [[IvfIndex.calibrateNprobe]]). With tppc=auto and
   *                shortlist=auto, algo=ivfpq is fully self-tuning.
   *  - `m`         PQ subspaces = bytes/vector (default 16)
   *  - `ksub`      codewords per subspace     (default 32; 256 at scale)
   *  - `shortlist` exact-re-rank depth, or `auto` (default auto for
   *                ivfpq, 200 for pq, 400 for bq) — recall knob #2 at
   *                FIXED index bytes (see [[IvfPqIndex.autoShortlist]]);
   *                for bq/pq — which have no probed scan to size
   *                against — `auto` IS the per-algo default
   *  - `tppc`      ivf/ivfpq coarse-trainer points per centroid
   *                (default 256), or `auto` — the measured total-mass
   *                rule ([[autoTrainTarget]]): full training at or
   *                under ~1.25M rows, a fixed ~1.25M-row sample above
   *  - `opqIters`  OPQ rotation alternations  (default 0; 8 recommended
   *                for anisotropic/real embedding corpora — no-op on
   *                isotropic residuals, measured)
   *
   * Measured recall@10 guidance (ANNBENCH, d=64, 50-query batch):
   * uniform n=1M — ivf 1.0, pq 1.0, ivfpq(m=16) 1.0, bq 0.78;
   * clustered n=1M — ivf 1.0, ivfpq(m=16, shortlist=2000) 0.43,
   * ivfpq(m=16, shortlist=auto) 1.0, ivfpq(m=32) 0.99, pq(global
   * codes) 0.27 — residual encoding + refine depth are what hold the
   * clustered regime, and `auto` sizes the refine depth to the scan.
   * Every algo's output schema and tie-breaks match [[topK]].
   */
  /** The `spark.graft.ann.*` knobs, read eagerly at call time (settings
    * cannot leak into later plans). `nlist`/`tppc` carry the documented
    * 0 = auto sentinels; `nprobe = None` means CALIBRATE
    * ([[IvfIndex.calibrateNprobe]]); `shortlist = None` means the
    * per-algo default depth (auto-sized for ivfpq, the fixed documented
    * depth for pq/bq). */
  private[graft] final case class AnnConf(algo: String, nlist: Int, tppc: Int,
      nprobe: Option[Int], calTarget: Double, shortlist: Option[Int],
      m: Int, ksub: Int, opqIters: Int)

  private[graft] def readAnnConf(spark: org.apache.spark.sql.SparkSession): AnnConf = {
    val conf = spark.conf
    def i(key: String, dflt: Int): Int =
      conf.getOption(s"spark.graft.ann.$key").map(_.trim.toInt).getOrElse(dflt)
    // `auto` -> the documented sentinel; nlist/tppc 0-sentinels resolve
    // inside buildIvf ([[autoNlist]] / [[autoTrainTarget]] — no extra
    // counting job, buildIvf counts anyway)
    def sentinel(key: String, dflt: Int, auto: Int): Int =
      conf.getOption(s"spark.graft.ann.$key").map(_.trim) match {
        case Some("auto") => auto
        case Some(v) => v.toInt
        case None => dflt
      }
    def codeSize(key: String): Int =
      conf.getOption(s"spark.graft.ann.$key").map(_.trim) match {
        case Some("auto") | None => AutoCodeSentinel
        case Some(v) => v.toInt
      }
    // probe width: `auto` CALIBRATES from the measured cell-recall
    // estimate at `cellRecallTarget`; shortlist `auto` lets the algo
    // size the refine depth (ivfpq has a probed scan to size against;
    // bq/pq resolve `auto` to their documented defaults rather than
    // silently collapsing the depth to k — the pre-r11 bug)
    val nprobe = conf.getOption("spark.graft.ann.nprobe").map(_.trim) match {
      case Some("auto") => None
      case Some(v) => Some(v.toInt)
      case None => Some(12)
    }
    val shortlist = conf.getOption("spark.graft.ann.shortlist").map(_.trim) match {
      case Some("auto") => None
      case Some(v) => Some(v.toInt)
      case None => None
    }
    AnnConf(
      algo = conf.getOption("spark.graft.ann.algo").map(_.trim.toLowerCase)
        .getOrElse("exact"),
      nlist = sentinel("nlist", 16, 0),
      tppc = sentinel("tppc", 256, 0),
      nprobe = nprobe,
      calTarget = conf.getOption("spark.graft.ann.cellRecallTarget")
        .map(_.trim.toDouble).getOrElse(0.95),
      shortlist = shortlist,
      // code size on the zero-knowledge path defaults to AUTO (round
      // 16, VERDICT r15 item 2): the density probe resolves 16x32 on
      // every small/medium corpus (bit-identical to the old default, so
      // existing gates stay byte-stable) and 32x256 exactly in the
      // measured dense-cell regime where 16-byte codes lose recall.
      // Explicit integers pin, as before.
      m = codeSize("m"), ksub = codeSize("ksub"),
      // OPQ on the zero-knowledge path defaults to AUTO (round 15,
      // VERDICT r14 item 5): -1 = probe the residual spectrum at build
      // time and rotate only when it is anisotropic (isotropic corpora
      // resolve to 0 — bit-identical to the old default, so every
      // existing small-SF gate stays byte-stable). Explicit 0/8 pins.
      opqIters =
        conf.getOption("spark.graft.ann.opqIters").map(_.trim) match {
          case Some("auto") | None => -1
          case Some(v) => v.toInt
        })
  }

  /** Conf-resolved IVFPQ build + (auto-)calibration — the `algo=ivfpq`
    * branch of [[annTopK]] factored out so a harness can time the
    * build-once cost and the probe separately while driving the SAME
    * zero-knowledge path. Returns (index, resolved nprobe, shortlist
    * with -1 = auto depth); the caller owns `idx.unpersist()`. When
    * `nprobe=auto`, the calibration pool is fed from the build's
    * still-persisted unitized cache — the r12 shape re-derived the
    * interpreted unit normalization from source (~48 s of the 10M-tier
    * calibration); this is one bounded scan of an in-memory frame. */
  def annBuildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int): (IvfPqIndex, Int, Int) = {
    val c = readAnnConf(corpus.sparkSession)
    val (idx, cached) = buildIvfPqCached(corpus, idCol, vecCol, dim,
      nlist = c.nlist, ivfIters = 3, m = c.m, ksub = c.ksub, pqIters = 3,
      opqIters = c.opqIters, trainPointsPerCentroid = c.tppc)
    val np =
      try c.nprobe.getOrElse {
        idx.calibrateNprobeWithPool(
          cached.filter(col("_wf"))
            .select(col("id"), col("v"), lit(1.0).as("vn")),
          c.calTarget)
      } finally cached.unpersist(blocking = false)
    (idx, np, c.shortlist.getOrElse(-1))
  }

  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int): DataFrame = {
    val c = readAnnConf(corpus.sparkSession)
    c.algo match {
      case "exact" => topK(corpus, queries, idCol, vecCol, k)
      case "int8" => topKInt8(corpus, queries, idCol, vecCol, k)
      case "bq" =>
        bqTopK(corpus, queries, idCol, vecCol, k, dim,
          shortlist = math.max(k, c.shortlist.getOrElse(400)))
      case "pq" =>
        // flat PQ has no cell structure for the density probe to read —
        // the auto sentinel resolves to the documented defaults here
        val mPq = if (c.m == AutoCodeSentinel) DefaultPqM else c.m
        val ksubPq = if (c.ksub == AutoCodeSentinel) DefaultPqKsub else c.ksub
        val model =
          if (c.opqIters > 0)
            opqTrain(corpus, idCol, vecCol, dim, mPq, ksubPq, iters = 3,
              opqIters = c.opqIters)
          else pqTrain(corpus, idCol, vecCol, dim, mPq, ksubPq)
        pqTopK(corpus, queries, idCol, vecCol, k, model,
          shortlist = math.max(k, c.shortlist.getOrElse(200)))
      case "ivf" =>
        // calibration (nprobe=auto) feeds from the build's retained
        // unitized cache, like annBuildIvfPq — the loaded-snapshot path
        // still calibrates from the layout (IvfIndex.calibrateNprobe)
        val (idx, cached) = buildIvfCached(corpus, idCol, vecCol, dim,
          nlist = c.nlist, iters = 3, trainPointsPerCentroid = c.tppc)
        val np =
          try c.nprobe.getOrElse {
            idx.calibrateNprobeWithPool(
              cached.filter(col("_wf"))
                .select(col("id"), col("v"), l2Norm(col("v")).as("vn"))
                .filter(col("vn") > 0),
              c.calTarget)
          } finally cached.unpersist(blocking = false)
        idx.topK(queries, idCol, vecCol, k, np)
      case "ivfpq" =>
        val (idx, np, sl) = annBuildIvfPq(corpus, idCol, vecCol, dim)
        try idx.topK(queries, idCol, vecCol, k, nprobe = np,
            shortlist = sl, corpus = corpus)
          .localCheckpoint()
        finally idx.unpersist()
      case other => throw new IllegalArgumentException(
        s"spark.graft.ann.algo=$other — expected exact|int8|bq|pq|ivf|ivfpq")
    }
  }

  // ------------------------------------------------------------------
  // PCA: dimensionality reduction for embedding pipelines (the
  // preprocessing step of SemDeDup-style semantic dedup and of
  // reduced-dimension ANN indexes). Fit = ONE distributed pass
  // ([[VectorGramAggExpr]]: d(d+1)/2 doubles cross the exchange, never
  // the corpus) + a driver-side Jacobi eigensolve on the d x d
  // covariance (d is the embedding width — 64 here, microseconds);
  // apply = a map-side codegen'd affine kernel
  // ([[graft.functions.MatrixProject]]), no shuffle at all.
  // ------------------------------------------------------------------

  /** A fitted PCA basis: `components` are orthonormal rows (k x d,
    * descending eigenvalue order, sign-fixed so each row's
    * largest-magnitude entry is positive — eigenvectors are only defined
    * up to sign and the fix makes fits deterministic), `eigenvalues`
    * their population variances, `totalVariance` the covariance trace. */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double],
      totalVariance: Double,
      nRows: Long) {
    def k: Int = components.length
    def dim: Int = mean.length
    /** Variance mass captured by the k retained components. */
    def capturedVariance: Double = eigenvalues.sum
  }

  /**
   * Fit a k-component PCA over `vecCol` (array<float|double>, fixed
   * width). Null vectors and vectors with null elements are skipped
   * (the [[VectorGramAggExpr]] contract); ragged widths fail loudly.
   */
  def pcaFit(df: DataFrame, vecCol: String, k: Int): PcaModel = {
    require(k >= 1, s"k must be >= 1, got $k")
    val row = df.agg(VectorAggFunctions.vectorGram(nativeVec(df, vecCol)).as("_g"))
      .head().getStruct(0)
    require(row != null, "pcaFit: no usable vectors (all null or null-element)")
    val n = row.getLong(0)
    val sums = row.getSeq[Double](1).toArray
    val gram = row.getSeq[Double](2).toArray
    val d = sums.length
    require(k <= d, s"k=$k exceeds the vector width d=$d")
    val mean = sums.map(_ / n)
    // covariance from the sufficient statistics: C = G/n - mu mu^T
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = gram(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val totalVar = (0 until d).map(i => cov(i)(i)).sum
    val (evals, evecs) = jacobiEigen(cov)
    // deterministic sign: largest-|entry| positive (first index on ties)
    val fixed = evecs.map { v =>
      var bi = 0
      var ba = 0.0
      var ii = 0
      while (ii < v.length) {
        val a = math.abs(v(ii))
        if (a > ba) { ba = a; bi = ii }
        ii += 1
      }
      if (v(bi) < 0) v.map(-_) else v
    }
    PcaModel(mean, fixed.take(k), evals.take(k), totalVar, n)
  }

  /** Project `vecCol` onto a fitted basis: output (`idCol`, proj
    * array<double> of length model.k). Malformed vectors (wrong width,
    * null elements) project to null — the kernels' length contract. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    // centering folded into one offset per axis: (v - mu).c = v.c - mu.c
    val offsets = model.components.map(c =>
      c.zip(model.mean).map { case (a, b) => a * b }.sum)
    df.select(col(idCol),
      graft.functions.VectorFunctions.matrixProject(
        nativeVec(df, vecCol), model.components, offsets).as("proj"))
  }

  /**
   * PCA whitening: project onto the fitted axes AND rescale each to unit
   * population variance — the standard preprocessing step before
   * cosine/dot-product similarity when raw embedding coordinates have
   * wildly different variances (the dominant axes would otherwise drown
   * the rest of the space; SemDeDup-style pipelines whiten for exactly
   * this reason). Output (`idCol`, `white` array<double> of length
   * model.k) with covariance ≡ the identity — verified distributedly by
   * the `q_whiten_embed` gate via the same one-pass [[VectorGramAggExpr]]
   * the fit used.
   *
   * Same execution shape as [[pcaProject]]: the scaling folds into the
   * projection matrix driver-side (rows divided by sqrt(eigenvalue)), so
   * apply stays ONE map-side codegen'd kernel, zero shuffle. Rejects
   * near-zero eigenvalues loudly (relative to the trace): whitening a
   * degenerate axis would divide by ~0 and amplify float noise into
   * garbage coordinates — drop k below the effective rank instead.
   */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel, relEps: Double = 1e-12): DataFrame = {
    val floor = relEps * math.max(model.totalVariance, java.lang.Double.MIN_NORMAL)
    model.eigenvalues.zipWithIndex.foreach { case (ev, i) =>
      require(ev > floor,
        s"pcaWhiten: component $i has near-zero variance ($ev <= $floor) — " +
          "the data is rank-deficient at this k; refit with smaller k") }
    val scaled = model.components.zip(model.eigenvalues).map {
      case (c, ev) => val s = 1.0 / math.sqrt(ev); c.map(_ * s)
    }
    val offsets = scaled.map(c =>
      c.zip(model.mean).map { case (a, b) => a * b }.sum)
    df.select(col(idCol),
      graft.functions.VectorFunctions.matrixProject(
        nativeVec(df, vecCol), scaled, offsets).as("white"))
  }

  /**
   * Cyclic Jacobi eigensolver for a symmetric matrix (Golub & Van Loan
   * §8.5 — the standard rotation method; unconditionally convergent on
   * symmetric input). Returns (eigenvalues descending, matching
   * eigenvectors as ROWS). Driver-side by design: the input is the
   * d x d covariance of an embedding width, never data-sized.
   */
  private[graft] def jacobiEigen(
      a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = a.map(_.clone())
    // v: columns accumulate the eigenvectors
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += m(i)(j) * m(i)(j); j += 1 }
        i += 1
      }
      s
    }
    val frob = math.sqrt(m.map(r => r.map(x => x * x).sum).sum)
    val eps = math.max(frob, 1e-300) * 1e-14
    var sweep = 0
    while (sweep < 100 && math.sqrt(offDiag()) > eps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p)(q)
          if (apq != 0.0) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
            val tt = math.signum(theta) match {
              case 0.0 => 1.0
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(tt * tt + 1.0)
            val s = tt * c
            // columns p,q of m
            var i = 0
            while (i < d) {
              val mip = m(i)(p); val miq = m(i)(q)
              m(i)(p) = c * mip - s * miq
              m(i)(q) = s * mip + c * miq
              i += 1
            }
            // rows p,q of m
            var j = 0
            while (j < d) {
              val mpj = m(p)(j); val mqj = m(q)(j)
              m(p)(j) = c * mpj - s * mqj
              m(q)(j) = s * mpj + c * mqj
              j += 1
            }
            // accumulate rotations into v's columns
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val pairs = (0 until d)
      .map(j => (m(j)(j), Array.tabulate(d)(i => v(i)(j))))
      .sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }
}
