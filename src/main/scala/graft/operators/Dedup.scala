package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * Document deduplication at training-data-pipeline scale: exact,
 * set-similarity (exact Jaccard with prefix filtering), MinHash+LSH,
 * and SimHash. All operators are pure DataFrame compositions — shuffles
 * only on join/group keys, no driver-side loops, no UDFs.
 *
 * Output convention for pair finders: (id1, id2[, score]) with
 * id1 < id2, one row per qualifying pair.
 */
object Dedup {

  /** Exact dedup: one row per distinct `textCol` value with the minimal
    * id as the canonical survivor and the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Canonical (bag-of-words) dedup: group by the md5 fingerprint of the
    * sorted distinct token set, so word-order permutations collapse. */
  def canonical(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /**
   * Exact dedup with a QUALITY-based survivor policy: per duplicate
   * group, keep the row maximizing `qualityCol` (ties to the lower id —
   * deterministic). The production retention rule: when a crawl yields
   * the same text from many sources, keep the best-scored copy, not the
   * accidentally-lowest id. One row per group with the survivor's id,
   * its quality, and the group size.
   *
   * One partial/final aggregate on `textCol` — the argmax is `max_by`
   * on (quality, -id), map-side combinable, so a billion-fold duplicated
   * boilerplate page ships ONE candidate per map task (the former
   * window-over-text routed every copy of a hot duplicate through a
   * single task — the [[retainBest]] device, now shared).
   *
   * Contract: `idCol` must be an integral type — the tie-break negates
   * the id (`max_by(id, struct(quality, -id))`), which fails analysis
   * for string ids and is validated here with a clear error instead.
   * (Long.MinValue has no negation, but ids are non-negative in every
   * pipeline this library targets.) Callers migrating from the former
   * window formulation with non-numeric ids should map ids to long first.
   */
  def exactBest(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String): DataFrame = {
    Checks.requireIntegralId("exactBest", idCol, df.schema(idCol).dataType)
    df.select(col(idCol), col(textCol), col(qualityCol))
      .groupBy(col(textCol))
      .agg(
        // max of (q, -id) = highest quality, ties to the LOWER id
        max_by(col(idCol), struct(col(qualityCol), -col(idCol))).as("keep_id"),
        max(col(qualityCol)).as("best_quality"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("best_quality"), col("n_copies"))
  }

  /** id -> distinct shingle set. Tokenizes into its own projection first —
    * see [[TextFunctions.wordShinglesFromTokens]] for why inlining the
    * tokenizer would be quadratic. Deliberately NO size(sh)>0 filter:
    * predicate pushdown would substitute the whole shingle expression
    * into a scan-level filter (recomputing it per row), and empty arrays
    * already contribute no rows at the explode that feeds every
    * candidate path. */
  private def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("id"), TextFunctions.shingleSetFromTokens(col("_toks"), n).as("sh"))

  /** Same, with each shingle hashed to a long (xxhash64) once up front:
    * every downstream join/aggregate/intersect then works on fixed-width
    * longs instead of strings — smaller shuffles, cheaper comparisons.
    * Set semantics are preserved up to 64-bit hash collisions
    * (~(distinct shingles)^2 / 2^65 — negligible). */
  private def shingledHashed(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingled(df, idCol, textCol, n)
      .select(col("id"),
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("sh"))

  /** Materialize `out` (persisted) while the upstream `handles` caches are
    * live, then release the handles: repeated pair-finder calls in a
    * long-lived session must not accumulate cached shingle tables. The
    * returned result stays persisted (it is the tiny qualifying-pair set);
    * callers that loop should `unpersist()` it when done. */
  private def materializeThenRelease(out: DataFrame, handles: DataFrame*): DataFrame = {
    val cached = out.persist()
    // a failed materialization must not leave either layer pinned
    try cached.count()
    catch { case t: Throwable => cached.unpersist(blocking = false); throw t }
    finally handles.foreach(_.unpersist(blocking = false))
    cached
  }

  /** Exact-Jaccard verification of candidate (id1, id2) pairs. Self-join
    * callers pass the same shingle frame twice; cross-corpus callers the
    * two sides' frames. */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame, threshold: Double): DataFrame =
    verifyJaccard(cands, docs, docs, threshold)

  private def verifyJaccard(cands: DataFrame, ldocs: DataFrame, rdocs: DataFrame,
      threshold: Double): DataFrame = {
    val d1 = ldocs.select(col("id").as("id1"), col("sh").as("sh1"))
    val d2 = rdocs.select(col("id").as("id2"), col("sh").as("sh2"))
    cands
      .join(d1, "id1").join(d2, "id2")
      // sorted two-pointer merge (codegen'd) — array_intersect would
      // build a hash set per candidate pair
      .withColumn("inter",
        graft.functions.ArrayFunctions.sortedIntersectCount(col("sh1"), col("sh2"))
          .cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
      // candidates arrive WITH duplicates (callers skip the wide distinct
      // on millions of candidate rows); dedup the tiny qualifying set here
      .distinct()
  }

  /**
   * Exact all-pairs Jaccard self-join over word `n`-gram shingle sets,
   * with AllPairs-style prefix filtering (Bayardo et al., WWW'07; also
   * Vernica et al., SIGMOD'10 for the MapReduce shape): order each
   * document's shingles by ascending global frequency; a pair with
   * J >= t must share a shingle within each side's first
   * |x| - ceil(t*|x|) + 1 shingles, so the inverted index is built over
   * those prefixes only — the frequent-shingle join blowup is bounded
   * while staying exact. Candidates are then verified with the true
   * Jaccard. Scales: the only wide operations are the frequency count,
   * the prefix join, and the verify join, all on shuffled keys.
   *
   * EAGER: verification runs at call time (a count job materializes the
   * result while the internal shingle cache is live, then releases it),
   * and the returned qualifying-pair set stays PERSISTED — it is tiny
   * relative to the corpus, but callers that loop over many corpora
   * should `unpersist()` each result when done with it.
   */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // the shingled table feeds three plan branches (inverted index +
    // both verify sides); cache it rather than re-shingling per branch
    val docs = shingledHashed(df, idCol, textCol, n).cache()
    materializeThenRelease(jaccardPairsOfShingled(docs, threshold), docs)
  }

  /** The AllPairs prefix-filter + verify body of [[jaccardPairs]] over a
    * PERSISTED (id, sh) frame — shared with [[clusters]]' collapsed
    * path, which shingles once, collapses identical shingle sets, and
    * routes only representatives here. Returns the LAZY verified-pair
    * frame; the caller materializes while its `docs` cache is live. */
  private def jaccardPairsOfShingled(docs: DataFrame, threshold: Double): DataFrame = {
    val ex = docs.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    val freq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = ex.join(freq, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + lit(1))
      .select("id", "sz", "s", "rn")
    // Length filter on top of the prefix filter: J >= t forces
    // t*|y| <= |x| (and symmetrically), so wildly different sizes can
    // never qualify — prunes candidates before the expensive verify.
    // POSITIONAL filter on top of both (PPJoin, Xiao et al. WWW'08;
    // round 17): J >= t forces overlap O >= ceil(t/(1+t)*(|x|+|y|)),
    // and for the FIRST shingle a qualifying pair shares in the global
    // frequency order (both prefixes are ranked by that same order, so
    // rn IS the position in it) the earlier shingles of the two sides
    // are disjoint, hence O <= 1 + min(|x|-rn_x, |y|-rn_y) holds there
    // — so dropping every candidate OCCURRENCE that fails the bound is
    // LOSSLESS: a qualifying pair always survives through its first
    // shared shingle, and duplicates/near-misses that only matched on
    // late frequent shingles never reach the verify join.
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") >= ceil(lit(threshold) * col("b.sz")) &&
          col("b.sz") >= ceil(lit(threshold) * col("a.sz")) &&
          lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) >=
            ceil(lit(threshold) / (1 + threshold) * (col("a.sz") + col("b.sz"))))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    verifyJaccard(cands, docs, threshold)
  }

  /**
   * Asymmetric CONTAINMENT pairs: one row per ORDERED pair (id1, id2)
   * with C(1→2) = |sh1 ∩ sh2| / |sh1| >= `threshold` — "id1's content is
   * (mostly) inside id2". The subset/quote-detection operator symmetric
   * Jaccard structurally misses: a paragraph quoted inside a long
   * document has high containment but near-zero Jaccard (the union is
   * dominated by the long side). Both directions emit independently
   * (A⊂B does not imply B⊂A).
   *
   * Prefix filtering adapts from [[jaccardPairs]]'s AllPairs machinery:
   * C(1→2) >= t forces a shared shingle within id1's first
   * |sh1| - ceil(t·|sh1|) + 1 shingles in ascending global-frequency
   * order, with NO prefix bound on the contain-er side — so the probe
   * prefix joins the FULL inverted index. That stays narrow because a
   * prefix holds each document's (1-t) fraction RAREST shingles: a
   * corpus-hot shingle almost never appears in any prefix, so candidate
   * width is Σ_s df_prefix(s)·df(s) with df_prefix(s) small exactly
   * where df(s) is large. The size filter |sh2| >= ceil(t·|sh1|)
   * (intersection can't exceed |sh2|) prunes before the verify, which
   * computes the exact containment on the candidate sliver only.
   *
   * EAGER like [[jaccardPairs]]: result materialized and persisted,
   * internal shingle cache released — `unpersist()` when looping.
   */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val docs = shingledHashed(df, idCol, textCol, n).cache()
    val ex = docs.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    val freq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = ex.join(freq, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + lit(1))
      .select(col("id").as("id1"), col("sz").as("sz1"), col("s"))
    val index = ex.select(col("id").as("id2"), col("sz").as("sz2"), col("s"))
    val cands = prefix.join(index, Seq("s"))
      .filter(col("id1") =!= col("id2") &&
        col("sz2") >= ceil(lit(threshold) * col("sz1")))
      .select("id1", "id2")
    val d1 = docs.select(col("id").as("id1"), col("sh").as("sh1"))
    val d2 = docs.select(col("id").as("id2"), col("sh").as("sh2"))
    val out = cands
      .join(d1, "id1").join(d2, "id2")
      .withColumn("containment",
        graft.functions.ArrayFunctions.sortedIntersectCount(col("sh1"), col("sh2"))
          .cast("double") / size(col("sh1")))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("containment"))
      .distinct() // candidates arrive with duplicates, like verifyJaccard
    materializeThenRelease(out, docs)
  }

  /**
   * Edit-distance verified near-dup pairs — the candidate-then-verify
   * composition for fuzzy dedup when the retention policy is phrased in
   * edits ("differ by at most k characters"), not set overlap: exact
   * Jaccard candidates at `candidateThreshold` (the [[jaccardPairs]]
   * AllPairs machinery, bounded and exact), then each surviving pair
   * verified with true Levenshtein distance and kept at
   * `<= maxDistance`. The contract is exactly "pairs with
   * J >= candidateThreshold AND edit distance <= maxDistance" — the
   * Jaccard stage is part of the semantics, not a recall heuristic
   * (unconstrained edit-distance self-join is Ω(n²); a sound pure
   * edit-distance blocking needs q-gram count filtering, which the
   * Jaccard prefix filter approximates with the same shingle index).
   *
   * Scale shape: Levenshtein is O(|a|·|b|) per pair — the expensive
   * verify runs ONLY on the qualifying-Jaccard sliver (tiny relative
   * to the corpus). Both body lookups build on the BROADCAST pair side
   * (first the bare pairs, then pairs+left-bodies, still sliver-sized),
   * so the corpus' document bodies never enter a shuffle — the
   * qualifying sliver must fit the broadcast bound; if a pathological
   * corpus outgrows it, raise `candidateThreshold` (or drop the hints
   * and take the shuffle). Output: (id1, id2, jaccard, edit_dist).
   */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, candidateThreshold: Double, maxDistance: Int): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val pairs = jaccardPairs(df, idCol, textCol, n, candidateThreshold)
    val t1 = df.select(col(idCol).as("id1"), col(textCol).as("_t1"))
    val t2 = df.select(col(idCol).as("id2"), col(textCol).as("_t2"))
    val withLeft = t1.join(broadcast(pairs), "id1")
    // banded (threshold) Levenshtein: O(k·min(|a|,|b|)) instead of the
    // full O(|a|·|b|) DP, bailing out at > maxDistance with -1 — we only
    // keep distances <= k, so the band loses nothing and the verify
    // stage stops scaling with document length squared
    val out = t2.join(broadcast(withLeft), "id2")
      .withColumn("edit_dist",
        levenshtein(col("_t1"), col("_t2"), maxDistance))
      .filter(col("edit_dist") >= 0)
      .select(col("id1"), col("id2"), col("jaccard"), col("edit_dist"))
    try materializeThenRelease(out)
    finally pairs.unpersist(blocking = false)
  }

  /**
   * Exact SUBSTRING (passage) dedup — cross-document repeated n-token
   * passages, merged to maximal spans per document: the "duplicated
   * training-data passages" operator (Lee et al., "Deduplicating
   * Training Data Makes Language Models Better", ACL'22 — their
   * suffix-array ExactSubstr pass, re-expressed as Spark jobs): a
   * memorization-prone boilerplate passage shared by many documents is
   * invisible to whole-document dedup (the documents differ) and to
   * near-dup Jaccard (the passage may be a small fraction of each doc).
   * Output: (id, span_start, span_end) — 0-based token positions,
   * inclusive, covering every token that participates in an n-gram
   * occurring in >= `minDocs` DISTINCT documents. Overlapping and
   * adjacent duplicated n-grams merge into one span (an interval merge:
   * all intervals have equal length n, so "next start <= prev start + n"
   * is exactly overlap-or-adjacency) — the spans are what a pipeline
   * cuts or down-weights.
   *
   * Semantics choice (documented deviation from suffix-array tools):
   * duplication is CROSS-document only — a passage repeated within one
   * document but appearing nowhere else is repetition (scored by
   * `text_repetition`), not contamination.
   *
   * 100 TB shape: positional n-grams are O(total tokens) rows of
   * (long hash, id, pos) — the same cost class as the shingle pass every
   * other dedup operator here already pays; the >= minDocs filter is a
   * partial-aggregatable count-distinct on the gram hash (a hot
   * boilerplate gram pre-combines map-side), and the span merge windows
   * per DOCUMENT — bounded by one document's length, never a corpus-wide
   * or per-gram partition. Grams are compared by xxhash64 (the
   * [[shingledHashed]] collision caveat: ~(distinct grams)^2 / 2^65 —
   * negligible, and a collision only over-marks a span).
   */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram length must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-doc duplication), got $minDocs")
    // token array materialized in its own projection first — see
    // wordShinglesFromTokens' O(len^2) re-tokenization caveat. The
    // shingle frame is persisted for the call scope: it feeds TWO
    // consumers (the dup-count aggregate and the marked-position probe),
    // and a persist boundary also stops InferFiltersFromGenerate +
    // pushdown from substituting the whole tokenize-and-shingle
    // expression into a scan-level `size(..) > 0` filter (observed in
    // the plan before this: the expression duplicated ~16x per row at
    // the scan).
    val sh = df
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("id"), TextFunctions.wordShinglesFromTokens(col("_toks"), n).as("_sh"))
      .persist()
    val grams = sh
      .select(col("id"), posexplode(col("_sh")).as(Seq("pos", "_g")))
      .select(col("id"), col("pos").cast("long").as("pos"), xxhash64(col("_g")).as("_h"))
    val dup = grams.groupBy(col("_h"))
      .agg(countDistinct(col("id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_h"))
    val marked = grams.join(dup, Seq("_h"), "left_semi").select(col("id"), col("pos"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val spans = marked
      .withColumn("_new",
        when(col("pos") - lag(col("pos"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("_grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1).cast("long")).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
    materializeThenRelease(spans, sh)
  }

  /**
   * The CONSUMER of [[duplicatedSpans]]: rewrite each document with the
   * flagged token spans removed — the actual dedup application (cut the
   * memorization-prone duplicated passages, keep the unique remainder).
   * `spans` is (id, span_start, span_end) as produced by
   * [[duplicatedSpans]] (0-based inclusive token positions; any
   * overlapping set works). Output: (id, clean_text, n_removed).
   *
   * Whitespace contract: a document WITH spans is rebuilt from its
   * surviving tokens joined by single spaces (runs of whitespace
   * collapse — the same normalization every tokenizing operator here
   * applies); a document with NO spans keeps its original text
   * byte-for-byte and never pays tokenization. A fully-covered document
   * yields the empty string with n_removed = its token count.
   *
   * 100 TB shape: spans collect_list per DOCUMENT (bounded by one doc's
   * length — a doc has at most len/1 spans), one equi-join on the doc id
   * against the corpus, and the token filter is a per-row lambda over
   * (tokens × that doc's spans) — no shuffle beyond the one join, and
   * only documents that actually have spans evaluate it (CaseWhen
   * branches lazily).
   */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("id").as("__cut_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("__spans"))
    val joined = df.join(sp, col(idCol) === col("__cut_id"), "left")
    val toks = TextFunctions.tokens(col(textCol))
    val kept = filter(toks, (t, i) =>
      !exists(col("__spans"), r =>
        i.cast("long") >= r.getField("s") && i.cast("long") <= r.getField("e")))
    joined
      .withColumn("__kept", when(col("__spans").isNotNull, kept))
      .select(
        col(idCol).as("id"),
        when(col("__spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", col("__kept"))).as("clean_text"),
        when(col("__spans").isNull, lit(0L))
          .otherwise(size(toks).cast("long") - size(col("__kept")).cast("long"))
          .as("n_removed"))
  }

  /**
   * Near-duplicate CLUSTERS: connected components over the verified
   * near-dup pair graph, labeling every document with the smallest
   * doc id reachable from it — the canonical survivor of its cluster.
   * Output: (id, cluster_id); documents with no near-dup form singleton
   * clusters (cluster_id = own id).
   *
   * Components are computed by iterative min-label propagation as
   * DataFrame jobs (each round: every node adopts the minimum label in
   * its neighborhood) — the standard large-graph connected-components
   * shape; rounds needed = graph diameter, and near-dup clusters are
   * shallow. Converges by a driver-checked fixpoint with a small round
   * cap.
   *
   * `collapseIdentical` (default ON, adaptively applied — see the gate
   * note at the implementation) collapses duplicate documents to
   * one representative (min id per distinct hashed shingle SET — one
   * shingling pass shared with the pair finder) before the pair graph:
   * the production guard against the dominant skew shape of real
   * crawls, where a boilerplate page repeated E times otherwise costs
   * E²/2 pair-graph edges, E copies in every hot shingle posting (or
   * LSH band bucket), and E²/2 verify joins. The labeling is BIT-
   * IDENTICAL by construction: Jaccard is a function of the shingle
   * sets alone, so equal sets mean J = 1 ≥ any threshold (pairing the
   * copies with each other and with exactly what their representative
   * pairs with), and the representative — the group's min id — carries
   * the same min-reachable-id label the full graph would assign. EMPTY
   * shingle sets (under `n` tokens) pair with nothing and are excluded
   * from collapse — they stay singletons, matching the uncollapsed
   * path. Only when those invariants must not be assumed (e.g. a
   * caller patched the pair finder) pass `false`.
   */
  def clusters(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxRounds: Int = 20,
      driverMaxEdges: Int = 1000000,
      collapseIdentical: Boolean = true): DataFrame =
    clustersImpl(df, idCol, textCol, n, maxRounds, driverMaxEdges,
      collapseIdentical, "clusters",
      docs => jaccardPairsOfShingled(docs, threshold))

  /**
   * [[clusters]] with the MinHash + banded-LSH pair finder — THE
   * corpus-scale near-dedup retention pipeline: at sizes where even the
   * prefix-filtered AllPairs inverted index is too wide, the banded
   * bucket join ([[minhashPairs]]) finds candidates in O(docs·numPerm)
   * map-side work plus one bucket shuffle. Labels inherit the finder's
   * contract: probabilistic recall (a pair missed by every band merges
   * nothing — clusters can only be FINER than the exact labeling, never
   * wrong about what they merge, since every merged pair is
   * exact-Jaccard verified), deterministic end to end (seeded hashes).
   * Same identical-duplicate collapse and adaptive gate as [[clusters]].
   */
  def clustersLsh(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numPerm: Int = 64, bands: Int = 16,
      maxRounds: Int = 20, driverMaxEdges: Int = 1000000,
      collapseIdentical: Boolean = true): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    clustersImpl(df, idCol, textCol, n, maxRounds, driverMaxEdges,
      collapseIdentical, "clustersLsh",
      docs => minhashPairsOfShingled(docs, threshold, numPerm, bands))
  }

  /** Shared engine of [[clusters]] / [[clustersLsh]]: the adaptive
    * identical-duplicate collapse around an arbitrary pair finder over
    * the PERSISTED (id, sh) shingled frame (`pairsOfShingled` returns
    * the LAZY verified-pair frame; this method owns every cache). */
  private def clustersImpl(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      maxRounds: Int, driverMaxEdges: Int, collapseIdentical: Boolean,
      opName: String, pairsOfShingled: DataFrame => DataFrame): DataFrame = {
    def uncollapsed(): DataFrame = {
      // the pair set is materialized (and persisted) while the shingle
      // cache is live; labelComponents reads it (driver collect or
      // iteration jobs) before this call returns, so the unpersist below
      // is safe.
      val docs = shingledHashed(df, idCol, textCol, n).cache()
      val rawPairs = materializeThenRelease(pairsOfShingled(docs), docs)
      try labelComponents(df, idCol, rawPairs, maxRounds, driverMaxEdges)
      finally rawPairs.unpersist(blocking = false)
    }
    // Collapse is ADAPTIVE: a seeded 2% text-hash sample estimates the
    // duplicate mass first, because the collapse pays two extra corpus
    // shuffles that a dup-free corpus shouldn't fund — and a HEAVY
    // group, the case that matters, is reliably visible in a sample
    // (the quadratic threat needs group size ≳ √corpus; its sampled
    // copy count is then far above the trigger, while a handful of
    // scattered dup pairs stays below it and is harmless uncollapsed).
    // `spark.graft.dedup.collapseMinSampledDups` (default 8) tunes the
    // trigger; 0 forces collapse (the spec hook). Either path returns
    // the bit-identical labeling — this is purely a plan choice.
    val gateTrips = collapseIdentical && {
      val minDups = df.sparkSession.conf
        .get("spark.graft.dedup.collapseMinSampledDups", "8").toInt
      minDups <= 0 || {
        val s = df.select(xxhash64(col(textCol)).as("h")).sample(0.02, 42L)
          .agg(count(lit(1)).as("c"), countDistinct(col("h")).as("d")).head()
        val (c, d) = (s.getLong(0), s.getLong(1))
        c - d >= minDups || (c > 0 && (c - d).toDouble / c >= 0.01)
      }
    }
    if (!gateTrips) {
      uncollapsed()
    } else {
      Checks.requireIntegralId(opName, idCol, df.schema(idCol).dataType)
      // One shingling pass serves collapse AND pair finding. The collapse
      // key is the hashed shingle SET itself (sound and finer than text
      // equality: J is a function of sh only, so equal sets ⟹ J = 1 ⟹
      // same cluster and same neighbors); empty sets are excluded — they
      // pair with nothing and must stay singletons like uncollapsed.
      val shingledAll = shingledHashed(df, idCol, textCol, n).cache()
      try {
        val repOf = shingledAll.filter(size(col("sh")) > 0)
          .groupBy(col("sh")).agg(min(col("id")).as("rep_id"))
        val member = shingledAll
          .join(repOf, Seq("sh"), "left")
          .select(col("id"), coalesce(col("rep_id"), col("id")).as("rep_id"))
          .persist()
        // repDocs stays cached until the RESULT materializes: the driver
        // union-find labeling path returns a lazy join that reads it
        val repDocs = shingledAll.join(
          member.filter(col("id") === col("rep_id")).select("id"), "id").cache()
        try {
          val rawPairs =
            materializeThenRelease(pairsOfShingled(repDocs), Nil: _*)
          val repLabels =
            try labelComponents(repDocs, "id", rawPairs, maxRounds, driverMaxEdges)
            finally rawPairs.unpersist(blocking = false)
          val out = member
            .join(repLabels.select(col("id").as("rep_id"), col("cluster_id")), "rep_id")
            .select(col("id"), col("cluster_id"))
          val result = materializeThenRelease(out, member)
          // no-op on the driver (lazy broadcast-join) labeling path
          repLabels.unpersist(blocking = false)
          result
        } catch {
          case t: Throwable => member.unpersist(blocking = false); throw t
        } finally repDocs.unpersist(blocking = false)
      } finally shingledAll.unpersist(blocking = false)
    }
  }

  /**
   * Quality-based retention over near-dup clusters — the production
   * retention policy as ONE operator: label the pair graph once
   * ([[clusters]]), join each member's quality score, and keep the
   * argmax-quality member per cluster (ties to the lower id). Output:
   * (cluster_id, keep_id, best_quality, n_members) — one row per
   * cluster. Composing this from [[clusters]] + a join + `max_by` is
   * what users were re-deriving by hand; as a composite the expensive
   * pair graph + labeling runs exactly once.
   *
   * `qualityCol` is any numeric column of `df` (a model score, crawl
   * rank, length heuristic). The argmax is a single `max_by` on
   * (quality, -id) — no per-cluster sort, map-side combinable, so the
   * reduce ships one candidate per cluster per partition at 100 TB.
   */
  def retainBest(
      df: DataFrame, idCol: String, textCol: String, qualityCol: String,
      n: Int, threshold: Double, maxRounds: Int = 20,
      driverMaxEdges: Int = 1000000,
      collapseIdentical: Boolean = true): DataFrame =
    retainBestOf(
      clusters(df, idCol, textCol, n, threshold, maxRounds, driverMaxEdges,
        collapseIdentical),
      df, idCol, qualityCol)

  /** The argmax step of [[retainBest]] over a PRECOMPUTED labeling
    * (id, cluster_id) — public so one materialized [[clusters]] result
    * (or a parquet-parked copy of it) can feed retention, split, and
    * survivor queries without re-running the pair graph, the most
    * expensive pipeline in a dedup suite. */
  def retainBestOf(labeled: DataFrame, df: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    val quality = df.select(col(idCol).cast("long").as("id"),
      col(qualityCol).as("_q"))
    labeled.join(quality, "id")
      .groupBy(col("cluster_id"))
      .agg(max_by(col("id"), struct(col("_q"), -col("id"))).as("keep_id"),
        max(col("_q")).as("best_quality"),
        count(lit(1)).as("n_members"))
  }

  /**
   * Connected-component labels over an arbitrary verified pair graph:
   * every member of `df` gets the smallest id reachable from it through
   * `pairs` (id1, id2) as its `cluster_id`; members in no pair form
   * singleton clusters. The labeling engine behind [[clusters]] and
   * [[semanticClusters]], public so any pair finder's output
   * ([[minhashPairs]], [[simhashPairs]], [[Similarity.lshPairs]]) can be
   * collapsed to survivor groups the same way.
   *
   * Hybrid strategy, like broadcast-join thresholding: the verified pair
   * graph is typically orders of magnitude smaller than the corpus, so
   * when it fits comfortably on the driver, a union-find there replaces
   * several distributed iteration jobs; past `driverMaxEdges`, iterative
   * min-label propagation as DataFrame jobs (each round every node
   * adopts the minimum label in its neighborhood — rounds needed = graph
   * diameter, and near-dup clusters are shallow), with a driver-checked
   * fixpoint and a loud failure at the round cap. Each round's labels
   * are checkpointed (reliably when the context has a checkpoint dir,
   * locally otherwise), so a round's plan does not grow with the rounds
   * before it; each round frees the previous round's checkpoint (its
   * blocks, or its files under the checkpoint dir). The distributed
   * path is EAGER like the pair finders (result persisted, every
   * round's labels freed) — `unpersist()` the result when looping.
   */
  def labelComponents(
      df: DataFrame, idCol: String, pairsRaw: DataFrame,
      maxRounds: Int = 20, driverMaxEdges: Int = 1000000): DataFrame = {
    // Fail fast on non-integral ids (the buildIvf/topK convention): a
    // string id would cast("long") to null below — silently-null
    // cluster_ids in the distributed path, an opaque NPE in the driver
    // path — instead of this actionable error.
    (Seq(idCol -> df.schema(idCol).dataType) ++
      Seq("id1", "id2").map(c => c -> pairsRaw.schema(c).dataType)).foreach {
      case (name, dt) => Checks.requireIntegralId("labelComponents", name, dt)
    }
    // ids normalized to long up front (the union-find reads longs; the
    // distributed path would otherwise rely on join-side coercions)
    val pairs = pairsRaw
      .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2"))

    val sample = pairs.limit(driverMaxEdges + 1).collect()
    if (sample.length <= driverMaxEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      sample.foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      val labelMap = parent.keys.map(k => k -> find(k)).toSeq
      val spark = df.sparkSession
      import spark.implicits._
      val labelDf = labelMap.toDF("id", "label")
      return df.select(col(idCol).cast("long").as("id"))
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
    }

    val edges = pairs
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .withColumnRenamed("id1", "src").withColumnRenamed("id2", "dst")
      .cache()
    // Iterate ONLY over edge-incident nodes — near-dups are typically a
    // small fraction of the corpus, so per-round cost follows the pair
    // graph, not the corpus. Singletons join back at the end.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    // Exception safety (same contract as the eager pair finders): the
    // non-convergence error — or any failed iteration job — must not
    // leave edges/labels/joined pinned in a long-lived session. On
    // success, `labels` stays cached: the returned (lazy) join reads it.
    try {
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val msgs = edges.join(labels, edges("src") === labels("id"))
          .groupBy(col("dst").as("id")).agg(min(col("label")).as("nbr_min"))
        // one cached join serves both the convergence test and the update
        val joined = labels.join(msgs, Seq("id"), "left").cache()
        try {
          val changed = joined.filter(col("nbr_min") < col("label")).limit(1).count()
          if (changed == 0) {
            converged = true
          } else {
            // An eager checkpoint, not cache() + count(): a cached frame
            // keeps its logical plan, which holds the previous labels
            // twice (directly and inside msgs), so the plan doubles per
            // round and rendering it for each job's start event ran a
            // 6 GB driver out of heap at diameter 5. A checkpoint's plan
            // is one RDD scan. Reliable when the session has a
            // checkpoint dir (it survives executor loss); otherwise
            // local, kept in executor storage like the cache it replaces.
            // Either way the previous round's data is freed here.
            val step = joined.select(col("id"),
              least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
            val next =
              if (step.sparkSession.sparkContext.getCheckpointDir.isDefined) step.checkpoint()
              else step.localCheckpoint()
            release(labels)
            labels = next
          }
        } finally joined.unpersist()
        round += 1
      }
      // A silent wrong answer is worse than an error: labels are only valid
      // at the fixpoint (each round propagates the min one hop, so rounds
      // needed = component diameter).
      require(converged,
        s"connected components did not converge within $maxRounds rounds " +
          "(component diameter exceeds the cap); raise maxRounds")
    } catch {
      case t: Throwable => release(labels); throw t
    } finally edges.unpersist(blocking = false)
    // materialize the labeling and release the last round's labels — a
    // lazy return would pin them forever with no handle for the caller
    // (the same accumulation materializeThenRelease prevents for the
    // pair finders). Like them, the RESULT stays persisted: unpersist()
    // it when looping.
    try materializeThenRelease(
      df.select(col(idCol).cast("long").as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id")))
    finally release(labels)
  }

  /** Frees a round's labels. The first round's are cached; later rounds'
    * are checkpoints, which `unpersist()` does not free (they are no
    * CacheManager entry), so their RDD's blocks (local) and checkpoint
    * files (reliable) are freed directly. */
  private def release(labels: DataFrame): Unit = labels.queryExecution.logical match {
    case r: LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(labels.sparkSession.sparkContext.hadoopConfiguration).delete(path, true)
      }
    case _ => labels.unpersist(blocking = false)
  }

  /**
   * SEMANTIC near-duplicate pairs over an embedding column — SemDeDup
   * (Abbas et al., arXiv:2303.09540): documents whose embeddings are
   * nearly parallel say the same thing in different words, which no
   * lexical dedup (shingles, minhash, simhash) can see. Cluster the
   * corpus with the IVF kmeans layout ([[Similarity.buildIvf]] — the
   * same artifact the ANN path probes), then verify exact cosine only
   * WITHIN each cluster cell: cost is sum of squared cell sizes,
   * ~n^2/nlist at balance, instead of n^2 — the bucketed shape every
   * scale pair finder here uses, with kmeans cells as the buckets.
   * Recall is approximate (a pair straddling a cell boundary is missed —
   * near-dup pairs rarely do, since near-identical vectors share a
   * nearest centroid); precision exact. `nlist = 1` degenerates to the
   * exact all-pairs scan (gated equal in the spec).
   *
   * '''Cell-count sizing.''' Total kernel work is assignment
   * `n*nlist*dim` plus verification `n*(n/nlist)*dim` at balance — the
   * sum is minimized at `nlist ~ sqrt(n)`. The default (`nlist = 0`)
   * derives exactly that from a corpus count (floored at 4), keeping
   * BOTH terms linear-ish in n as the corpus scales; an explicit
   * `nlist > 0` overrides. Measured (DedupBench --semantic, 200k x
   * 64-dim synthetic): 18.6 s end to end at 0.99 planted recall.
   *
   * EAGER like the other pair finders: the verified pair set is
   * materialized at call time and stays persisted — `unpersist()` it
   * when looping. The centroid-assigned layout is deliberately NOT
   * cached: each self-join branch recomputes the assignment from source
   * (a scan + one fused-kernel pass, ~1.5 s at 50k x 64-dim) — Spark's
   * columnar-cache ENCODE of an embedding-array column measured ~50x
   * slower than that (72 s for the same frame; array columns hit the
   * cache builder's slow generic path). See [[IvfIndex.save]] for the
   * reuse-across-jobs shape.
   *
   * '''Hot-cell guard.''' Verification cost is the sum of SQUARED cell
   * widths: a skewed kmeans — a mass of identical/near-identical
   * embeddings, exactly what a dedup input looks like — concentrates
   * the corpus in one cell and turns one task quadratic. Before the
   * join, cell widths (one slim aggregation over the layout, the
   * [[Similarity.IvfIndex.topWidths]] shape) are checked against
   * `hotCellRows`, failing LOUDLY with a per-cell diagnostic instead of
   * straggling. The diagnostic separates the two causes, which have
   * different fixes: a hot cell of mostly '''bit-identical vectors''' is
   * irreducible for the pair contract (its pair OUTPUT is quadratic —
   * collapse identical embeddings upstream with an exact dedup; no
   * clustering can shrink an answer set); a hot cell of '''spread
   * vectors''' is a clustering artifact (raise `nlist` for a finer
   * kmeans). `hotCellRows = 0` disables the guard (and its extra
   * assignment pass) for corpora known to be balanced.
   */
  def semanticPairs(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nlist: Int = 0, iters: Int = 3,
      hotCellRows: Int = 4096): DataFrame = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = auto ~ sqrt(n)), got $nlist")
    val resolvedNlist =
      if (nlist > 0) nlist
      else math.max(4, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    val idx = Similarity.buildIvf(df, idCol, vecCol, dim, resolvedNlist, iters)
    val ind = idx.indexed
    if (hotCellRows > 0) {
      // ONE slim materialized pass (two longs per row) feeds both the
      // width check and the identical-mass diagnostic: aggregating
      // count_distinct THROUGH the lazy assignment expression measured
      // ~300x slower (the distinct-agg plan evaluates its group key
      // outside codegen, interpreting the centroid-distance kernel per
      // row) — materializing (c, hash(v)) first runs the kernel exactly
      // once, codegen'd, and the aggregates then touch only longs.
      val slim = ind.select(col("c"), xxhash64(col("v")).as("k")).persist()
      try {
        val hot = slim.groupBy("c")
          .agg(count(lit(1)).as("w"), count_distinct(col("k")).as("d"))
          .filter(col("w") > hotCellRows)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        if (hot.nonEmpty) {
          val lines = hot.sortBy(-_._2).take(5).map { case (c, w, d) =>
            s"cell $c: $w rows, $d distinct vectors"
          }.mkString("; ")
          throw new IllegalArgumentException(
            s"semanticPairs: ${hot.length} kmeans cell(s) wider than " +
              s"hotCellRows=$hotCellRows at nlist=$resolvedNlist ($lines) — " +
              "the within-cell verification task would be quadratic in the " +
              "cell width. Mostly-identical vectors: collapse them upstream " +
              "(exact dedup on the embedding) — their pair set itself is " +
              "quadratic, no clustering shrinks an answer set. Spread cell: " +
              "raise nlist (finer kmeans). Or raise hotCellRows / disable " +
              "the guard with hotCellRows = 0 if the cost is intended.")
        }
      } finally slim.unpersist(blocking = false)
    }
    // zero/NaN-norm rows pair with nothing (cosine undefined); without
    // the filter the division below is an ANSI DIVIDE_BY_ZERO job abort
    val indP = ind.filter(col("vn") > 0)
    val a = indP.select(col("c"), col("id").as("id1"), col("v").as("v1"), col("vn").as("n1"))
    val b = indP.select(col("c"), col("id").as("id2"), col("v").as("v2"), col("vn").as("n2"))
    val out = a.join(b, "c")
      .filter(col("id1") < col("id2"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
    materializeThenRelease(out)
  }

  /** Semantic near-dup CLUSTERS: [[semanticPairs]] collapsed to
    * survivor groups by [[labelComponents]] — (id, cluster_id) with the
    * smallest reachable id as the canonical survivor, singletons for
    * documents with no semantic dup. Keeping `cluster_id = id` rows and
    * dropping the rest is the SemDeDup retention step.
    *
    * `collapseIdentical` (default ON, adaptively applied — the
    * [[clusters]] gate, sampled on the vector hash) collapses
    * BIT-IDENTICAL embeddings to one representative before the pair
    * finder. This is what lets the clustering consumer COMPLETE on the
    * identical-mass corpora [[semanticPairs]]' hot-cell guard refuses:
    * the guard refuses because the PAIR output itself is quadratic in
    * the identical mass, but cluster labels are linear — copies share
    * their representative's label (cos = 1 ≥ threshold pairs them with
    * each other and with exactly the representative's neighbors, since
    * cosine is a function of the vector bits alone). Zero-norm and
    * NaN-bearing vectors never pair (cosine undefined — [[semanticPairs]]
    * excludes them before the division) and are excluded from
    * collapse, staying singletons. Caveat, stated rather than hidden:
    * the kmeans then TRAINS on representatives, so which cell-straddling
    * near (not identical) pairs the approximate-recall contract misses
    * can differ from the uncollapsed run — at `nlist = 1` (exact
    * all-pairs, no clustering) the labelings are identical, which the
    * spec pins; the dedup literature trains on deduped mass for exactly
    * this reason (identical mass drags centroids). Collapse also
    * requires `threshold < 1 - 1e-9`: at exactly 1.0 the uncollapsed
    * path's `sqrt(d)²` ulp loss can drop an identical pair the collapse
    * would merge. */
  def semanticClusters(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nlist: Int = 0, iters: Int = 3,
      maxRounds: Int = 20, driverMaxEdges: Int = 1000000,
      hotCellRows: Int = 4096, collapseIdentical: Boolean = true): DataFrame = {
    def uncollapsed(): DataFrame = {
      val pairs = semanticPairs(df, idCol, vecCol, dim, threshold, nlist, iters, hotCellRows)
      try labelComponents(df, idCol, pairs, maxRounds, driverMaxEdges)
      finally pairs.unpersist(blocking = false)
    }
    val gateTrips = collapseIdentical && threshold < 1.0 - 1e-9 && {
      val minDups = df.sparkSession.conf
        .get("spark.graft.dedup.collapseMinSampledDups", "8").toInt
      minDups <= 0 || {
        val s = df.select(xxhash64(col(vecCol)).as("h")).sample(0.02, 42L)
          .agg(count(lit(1)).as("c"), countDistinct(col("h")).as("d")).head()
        val (c, d) = (s.getLong(0), s.getLong(1))
        c - d >= minDups || (c > 0 && (c - d).toDouble / c >= 0.01)
      }
    }
    if (!gateTrips) {
      uncollapsed()
    } else {
      Checks.requireIntegralId("semanticClusters", idCol, df.schema(idCol).dataType)
      val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("_v"))
      // eligibility: a positive finite norm (NaN fails `> 0`) — anything
      // else never pairs and must stay an uncollapsed singleton
      val keyed = base.withColumn("_cv",
        when(graft.functions.VectorFunctions.squaredNorm(col("_v")) > 0, col("_v")))
      val repOf = keyed.filter(col("_cv").isNotNull)
        .groupBy(col("_cv")).agg(min(col("id")).as("rep_id"))
      val member = keyed.join(repOf, Seq("_cv"), "left")
        .select(col("id"), coalesce(col("rep_id"), col("id")).as("rep_id"))
        .persist()
      try {
        val repDf = base.join(
          member.filter(col("id") === col("rep_id")).select("id"), "id")
          .select(col("id").as(idCol), col("_v").as(vecCol))
        val pairs = semanticPairs(repDf, idCol, vecCol, dim, threshold, nlist,
          iters, hotCellRows)
        val repLabels =
          try labelComponents(repDf, idCol, pairs, maxRounds, driverMaxEdges)
          finally pairs.unpersist(blocking = false)
        val out = member
          .join(repLabels.select(col("id").as("rep_id"), col("cluster_id")), "rep_id")
          .select(col("id"), col("cluster_id"))
        val result = materializeThenRelease(out, member)
        repLabels.unpersist(blocking = false)
        result
      } catch {
        case t: Throwable => member.unpersist(blocking = false); throw t
      }
    }
  }

  /**
   * MinHash + banded LSH near-duplicate pairs: `numPerm` min-hash values
   * per document (xxhash64 with per-permutation seeds over the shingle
   * set), grouped into `bands` bands; documents sharing any band bucket
   * become candidates, verified with the exact Jaccard. Probabilistic
   * recall (1 - (1 - t^r)^b), precision exact due to verification.
   * The scale path for corpora where even prefix-filtered all-pairs is
   * too wide: cost is O(docs * numPerm) map-side plus a bucket join.
   *
   * PAIR-OUTPUT contract at scale: E exact copies of one document are
   * E²/2 qualifying pairs — quadratic in the ANSWER itself, which no
   * bucketing can shrink (every band bucket holds all E copies). If the
   * consumer wants survivors rather than the pair list, use
   * [[clusters]] / [[retainBest]] (their identical-duplicate collapse
   * keeps the work linear in E), or collapse exact duplicates upstream
   * with [[exact]] first. The same contract applies to [[jaccardPairs]],
   * [[containmentPairs]] and [[minhashPairsAgainst]].
   *
   * EAGER like [[jaccardPairs]]: the verified pair set is materialized
   * at call time and returned PERSISTED — `unpersist()` it when looping.
   */
  /** (id, band, bh) LSH bucket rows of a shingled frame: all `numPerm`
    * min-hashes from one fused kernel per row (bit-identical to
    * `min(xxhash64(lit(i), s))` per permutation — the explode +
    * numPerm-wide groupBy shuffle this replaces was the operator's
    * dominant cost), then one bucket hash per band. Shingle-less docs
    * (null signature) have no bands, matching the explode semantics. */
  private def bandedBuckets(docs: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    val r = numPerm / bands
    docs
      .select(col("id"),
        graft.functions.HashFunctions.minhashSignature(col("sh"), numPerm).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("id"), posexplode(
        array((0 until bands).map(j =>
          xxhash64(lit(j) +: (0 until r).map(k => element_at(col("mh"), j * r + k + 1)): _*)): _*)
      ).as(Seq("band", "bh")))
  }

  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numPerm: Int = 64, bands: Int = 16): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val docs = shingledHashed(df, idCol, textCol, n).cache()
    materializeThenRelease(
      minhashPairsOfShingled(docs, threshold, numPerm, bands), docs)
  }

  /** The banded-bucket-join + verify body of [[minhashPairs]] over a
    * PERSISTED (id, sh) frame — shared with [[clustersLsh]]' collapsed
    * path (the [[jaccardPairsOfShingled]] pattern). Returns the LAZY
    * verified-pair frame; the caller materializes while `docs` is live. */
  private def minhashPairsOfShingled(docs: DataFrame, threshold: Double,
      numPerm: Int, bands: Int): DataFrame = {
    val buckets = bandedBuckets(docs, numPerm, bands)
    val cands = buckets.as("a").join(buckets.as("b"), Seq("band", "bh"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    verifyJaccard(cands, docs, threshold)
  }

  /**
   * CROSS-corpus near-duplicate pairs — dedup a candidate corpus (a new
   * crawl) AGAINST a reference corpus (the existing training set):
   * (id1 from `left`, id2 from `right`, jaccard) for every cross pair
   * with verified Jaccard >= `threshold`. The retention step drops the
   * left ids that match — keeping the reference set authoritative —
   * which no self-join dedup expresses (and [[PipelineOps.contamination]]
   * only approximates: ANY shared n-gram, not a similarity threshold).
   *
   * Same MinHash+banded-LSH shape as [[minhashPairs]], with the bucket
   * join ACROSS the two frames (no id ordering constraint — the id
   * namespaces are unrelated; a doc present in both corpora pairs with
   * itself at J = 1). Probabilistic recall, exact precision.
   *
   * EAGER like the other pair finders: result persisted, internal
   * shingle caches released — `unpersist()` it when looping.
   */
  def minhashPairsAgainst(
      left: DataFrame, right: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numPerm: Int = 64, bands: Int = 16): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val ldocs = shingledHashed(left, idCol, textCol, n).cache()
    val rdocs = shingledHashed(right, idCol, textCol, n).cache()
    val cands = bandedBuckets(ldocs, numPerm, bands).as("a")
      .join(bandedBuckets(rdocs, numPerm, bands).as("b"), Seq("band", "bh"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    materializeThenRelease(verifyJaccard(cands, ldocs, rdocs, threshold), ldocs, rdocs)
  }

  /**
   * A build-once MinHash+LSH index of a reference corpus, for
   * probe-many dedup AT INGESTION: `buckets` is the banded LSH bucket
   * table (band, bh, ref_id), `shingles` the sorted hashed shingle sets
   * (ref_id, ref_sh) the exact-Jaccard verify reads. Both persisted —
   * `unpersist()` when done. At 100 TB the two frames are the artifact
   * worth writing to parquet (bucketed by `bh` / `ref_id` via
   * [[graft.sources.Layout]]) so every ingestion batch probes
   * zero-build.
   */
  final case class MinhashIndex private[operators] (
      buckets: DataFrame, shingles: DataFrame,
      n: Int, numPerm: Int, bands: Int) {
    def unpersist(): Unit = {
      buckets.unpersist(blocking = false)
      shingles.unpersist(blocking = false)
    }

    /** Snapshot the index to storage: bucket and shingle frames as
      * parquet plus a 1-row meta table pinning (n, numPerm, bands) — a
      * probe against a reloaded index is only correct with the exact
      * same shingling and banding, so the parameters travel WITH the
      * data ([[Dedup.loadMinhashIndex]] is the inverse). Build cost is
      * paid once per corpus snapshot, not per ingestion session. For
      * zero-exchange probes at scale, write the two frames through
      * [[graft.sources.Layout.writeBucketed]] on (bh) / (ref_id)
      * instead — catalog bucketing carries the co-location metadata a
      * plain path write cannot. */
    def save(path: String): Unit = {
      buckets.write.mode("overwrite").parquet(s"$path/buckets")
      shingles.write.mode("overwrite").parquet(s"$path/shingles")
      val spark = buckets.sparkSession
      import spark.implicits._
      Seq((n, numPerm, bands)).toDF("n", "num_perm", "bands")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** Reload a [[MinhashIndex]] snapshot written by [[MinhashIndex.save]]
    * (frames persisted on load — `unpersist()` when done). */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): MinhashIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    MinhashIndex(
      spark.read.parquet(s"$path/buckets").persist(),
      spark.read.parquet(s"$path/shingles").persist(),
      meta.getInt(0), meta.getInt(1), meta.getInt(2))
  }

  /** Build a [[MinhashIndex]] over the reference corpus (one pass:
    * shingle cache feeds both frames, released after both materialize). */
  def buildMinhashIndex(reference: DataFrame, idCol: String, textCol: String,
      n: Int, numPerm: Int = 64, bands: Int = 16): MinhashIndex = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rdocs = shingledHashed(reference, idCol, textCol, n).cache()
    val sh = rdocs.select(col("id").as("ref_id"), col("sh").as("ref_sh")).persist()
    val buckets = bandedBuckets(rdocs, numPerm, bands)
      .select(col("band"), col("bh"), col("id").as("ref_id")).persist()
    try { sh.count(); buckets.count() }
    catch { case t: Throwable =>
      sh.unpersist(blocking = false); buckets.unpersist(blocking = false); throw t }
    finally rdocs.unpersist(blocking = false)
    MinhashIndex(buckets, sh, n, numPerm, bands)
  }

  /**
   * Flag near-duplicates of `incoming` against a prebuilt
   * [[MinhashIndex]] — and `incoming` may be a STREAMING DataFrame: the
   * whole plan is stateless per micro-batch (map-side shingle + minhash
   * signature, band explode, two stream-static joins against the
   * persisted index, codegen'd exact-Jaccard verify) except the final
   * per-document best-match aggregate, which is duplicate-insensitive
   * (`max(struct(jaccard, ref_id))` — a pair surfacing from several
   * bands changes nothing), so no distinct/dropDuplicates state is ever
   * needed. Output: (id, dup_of, jaccard) — the best verified reference
   * match per incoming document with J >= threshold; unmatched
   * documents emit nothing (they are the keep set).
   *
   * This is online dedup-at-ingestion: index once, probe every batch.
   * Same recall contract as [[minhashPairsAgainst]] (probabilistic via
   * banding, precision exact via the verify). The incoming shingle set
   * rides through the band explode (bands x duplication WITHIN a
   * micro-batch projection) because a stream cannot self-join its own
   * shingles back — the batch operators join the cached frame instead;
   * at the default 16 bands this is bounded and map-side only.
   *
   * Batch callers get identical semantics (the plan is the same); the
   * streaming drain runs complete-mode over the per-doc aggregate —
   * production ingestion would run update mode with a watermark on the
   * arrival time so state drains continuously.
   *
   * CONTRACT — static reference only: this probe checks incoming
   * documents against the PREBUILT index and nothing else. Two near
   * duplicates arriving in the SAME micro-batch (neither in the index)
   * are BOTH unmatched and both pass — within-stream self-dedup is a
   * different operator. Use [[admitBatch]] inside `foreachBatch` when
   * ingestion must also dedup each batch against itself (and
   * [[extendMinhashIndex]] to make admitted documents visible to later
   * batches).
   */
  def flagNearDupsAgainst(index: MinhashIndex, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val r = index.numPerm / index.bands
    val probe = incoming
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("id"),
        TextFunctions.shingleSetFromTokens(col("_toks"), index.n).as("_shs"))
      .select(col("id"),
        array_sort(array_distinct(transform(col("_shs"), s => xxhash64(s)))).as("sh"))
      .select(col("id"), col("sh"),
        graft.functions.HashFunctions.minhashSignature(col("sh"), index.numPerm).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("id"), col("sh"), posexplode(
        array((0 until index.bands).map(j =>
          xxhash64(lit(j) +: (0 until r).map(k =>
            element_at(col("mh"), j * r + k + 1)): _*)): _*)).as(Seq("band", "bh")))
    probe
      .join(index.buckets, Seq("band", "bh"))
      .join(index.shingles, Seq("ref_id"))
      .withColumn("_inter",
        graft.functions.ArrayFunctions.sortedIntersectCount(col("sh"), col("ref_sh"))
          .cast("double"))
      .withColumn("_j",
        col("_inter") / (size(col("sh")) + size(col("ref_sh")) - col("_inter")))
      .filter(col("_j") >= threshold)
      .groupBy(col("id"))
      .agg(max(struct(col("_j").as("j"), col("ref_id").as("ref"))).as("_best"))
      .select(col("id"), col("_best.ref").as("dup_of"),
        round(col("_best.j"), 4).as("jaccard"))
  }

  /**
   * Dedup-at-ingestion for ONE batch with WITHIN-BATCH self-dedup — the
   * completion of [[flagNearDupsAgainst]]'s static-reference contract:
   * that probe admits two near-duplicates arriving in the same
   * micro-batch (neither is in the index), which a real ingestion
   * pipeline must not. Designed for `foreachBatch`, where every
   * micro-batch is a plain batch DataFrame (spec-enforced:
   * `batch.isStreaming` trips).
   *
   * Admission contract (cluster-level, deterministic):
   *  1. within-batch near-dup clusters = connected components over the
   *     batch's verified MinHash pair graph (same n/numPerm/bands as
   *     the index — probabilistic recall, exact precision, like every
   *     pair finder here); the component label is the cluster's minimum
   *     reachable id ([[labelComponents]]' contract);
   *  2. a cluster ANY member of which matches the reference index
   *     admits NOTHING — its content is already represented in the
   *     corpus, and keeping a near-dup of a rejected member would
   *     reintroduce what the reference probe just rejected;
   *  3. an uncontaminated cluster admits exactly its minimum-id member
   *     (singletons are clusters of one).
   *
   * Output, one row per batch document: (id, admitted, reason, dup_of)
   * with reason `admitted` | `ref_dup` (the document itself matched the
   * index; dup_of = its best reference match) | `ref_dup_cluster`
   * (another member of its cluster matched the index; dup_of = the
   * cluster minimum) | `batch_dup` (in-batch duplicate of an admitted
   * representative; dup_of = the cluster minimum).
   *
   * Missed pairs only ever ADMIT MORE: fewer in-batch edges split
   * clusters (every true-cluster minimum stays a subcluster minimum)
   * and fewer reference matches un-contaminate them, so the admitted
   * set is a SUPERSET of the exact-pair-graph admission — the
   * structural direction the `q_ingest_admit` gate checks, with
   * equality earned at the library's measured recall.
   *
   * 100 TB shape: everything is the probe's and the pair finder's
   * existing bucketed plans over ONE batch — per-batch cost follows the
   * batch size, never the corpus; the only corpus-sized object is the
   * prebuilt index the stream-static joins read.
   */
  def admitBatch(index: MinhashIndex, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    require(!batch.isStreaming,
      "admitBatch runs on one micro-batch (use it inside foreachBatch); " +
        "for a stateless stream-static probe use flagNearDupsAgainst")
    val refMatches = flagNearDupsAgainst(index, batch, idCol, textCol, threshold)
      .select(col("id").cast("long").as("id"), col("dup_of").as("_ref_match"))
    val pairs = minhashPairs(batch, idCol, textCol, index.n, threshold,
      index.numPerm, index.bands)
    // labelComponents is eager (driver union-find or iteration jobs run
    // before it returns), so releasing the pair cache here is safe
    val labeled =
      try labelComponents(batch, idCol, pairs)
      finally pairs.unpersist(blocking = false)
    val withRef = labeled.join(refMatches, Seq("id"), "left")
    val contaminated = withRef.groupBy(col("cluster_id"))
      .agg(max(col("_ref_match").isNotNull.cast("int")).as("_cont"))
    val reason = when(col("_ref_match").isNotNull, lit("ref_dup"))
      .when(col("_cont") === 1, lit("ref_dup_cluster"))
      .when(col("id") === col("cluster_id"), lit("admitted"))
      .otherwise(lit("batch_dup"))
    withRef.join(contaminated, "cluster_id")
      .select(col("id"),
        (reason === "admitted").as("admitted"),
        reason.as("reason"),
        when(col("_ref_match").isNotNull, col("_ref_match").cast("long"))
          .when(reason =!= "admitted", col("cluster_id"))
          .as("dup_of"))
  }

  /**
   * A new [[MinhashIndex]] covering `index`'s corpus PLUS `docs` — how
   * `foreachBatch` ingestion makes this batch's admitted documents
   * visible to the next batch's probe: band/shingle frames are built
   * for `docs` only (cost follows the batch), unioned with the existing
   * frames, persisted, and the inputs released once the union
   * materializes. The union plan grows one level per call, so a
   * long-running ingestion loop should periodically reset through
   * [[MinhashIndex.save]] + [[loadMinhashIndex]] (or append the new
   * frames to the saved parquet snapshot directly — the on-disk shape
   * production uses anyway).
   */
  def extendMinhashIndex(index: MinhashIndex, docs: DataFrame,
      idCol: String, textCol: String): MinhashIndex = {
    val add = buildMinhashIndex(docs, idCol, textCol,
      index.n, index.numPerm, index.bands)
    val buckets = index.buckets.union(add.buckets).persist()
    val shingles = index.shingles.union(add.shingles).persist()
    try { buckets.count(); shingles.count() }
    catch { case t: Throwable =>
      buckets.unpersist(blocking = false); shingles.unpersist(blocking = false)
      add.unpersist(); throw t }
    index.unpersist(); add.unpersist()
    MinhashIndex(buckets, shingles, index.n, index.numPerm, index.bands)
  }

  /**
   * SimHash near-duplicate pairs with Hamming distance <= `maxHamming`.
   * 64-bit SimHash over the distinct token set (Charikar, STOC'02; the
   * banded search follows Manku et al., WWW'07): split the 64 bits into
   * `maxHamming + 1` bands — by pigeonhole any pair within the distance
   * budget agrees exactly on at least one band, so the band join has
   * PERFECT recall; candidates are verified with bit_count(xor).
   */
  /** 64-bit SimHash per document over the distinct token set
    * (Charikar, STOC'02): bit k is the sign of the sum of +-1 votes from
    * each token's hash bit k. Returns (id, sim). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // One fused kernel per row (see [[graft.functions.SimHash64]]): the
    // explode + 64-aggregate groupBy it replaces shuffled every token and
    // compiled a 64-column codegen unit. Token-less docs drop out (null),
    // matching the explode semantics.
    df.select(col(idCol).as("id"), TextFunctions.distinctTokens(col(textCol)).as("_toks"))
      .select(col("id"), graft.functions.HashFunctions.simhash64(col("_toks")).as("sim"))
      .filter(col("sim").isNotNull)

  /**
   * @param hotBucketRows skew cutoff: buckets wider than this are
   *   re-partitioned by Manku-style band EXTENSION instead of joined
   *   whole. A pair in the same (band, value) bucket with overall
   *   distance <= maxHamming has <= maxHamming differing bits among the
   *   REMAINING 64 - bandBits bits; splitting those into maxHamming + 1
   *   sub-bands guarantees (pigeonhole again) an exact sub-band match —
   *   so hot buckets join on (band, value, sub-band, sub-value) with
   *   PERFECT recall preserved, and the join width drops from |bucket|^2
   *   to the sub-bucket widths. Irreducible residue: documents with
   *   IDENTICAL full signatures always share every sub-bucket — at that
   *   point the candidate set IS the answer set and no partitioning can
   *   shrink it (exact-dedup upstream is the fix).
   */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, hotBucketRows: Int = 4096): DataFrame =
    simhashPairsOfSignatures(simhash(df, idCol, textCol), maxHamming, hotBucketRows)

  /** [[simhashPairs]] over PRECOMPUTED signatures — a (id, sim) frame as
    * produced by [[simhash]]. At scale the signatures are the artifact
    * worth persisting (64 bits/doc); re-running the banded search with a
    * different maxHamming then costs no re-hash of the corpus.
    *
    * EAGER like the other pair finders: the slim (id, sim) input is
    * persisted for the duration of the call (it feeds the bucket-width
    * count plus the cold and hot join branches — without the cache the
    * upstream tokenize+hash would run once per branch), the verified
    * pair set is materialized, and the input cache released. The
    * returned result stays persisted — `unpersist()` it when looping. */
  def simhashPairsOfSignatures(
      sim0: DataFrame, maxHamming: Int, hotBucketRows: Int = 4096): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val sim = sim0.persist()
    val bands = sim.select(col("id"), col("sim"), posexplode(
      array((0 until nBands).map(j =>
        shiftright(col("sim"), j * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)).as(Seq("band", "bh")))

    // Bucket widths, joined back on the SAME key the self-join uses (the
    // exchange is co-partitioned; output is at most one row per occupied
    // bucket). Wide and narrow buckets then take different join paths.
    val counts = bands.groupBy("band", "bh").agg(count(lit(1)).as("_bw"))
    val tagged = bands.join(counts, Seq("band", "bh"))

    def pairsOf(side: DataFrame, keys: Seq[String]): DataFrame =
      side.as("a").join(side.as("b"), keys)
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)

    val cold = tagged.filter(col("_bw") <= hotBucketRows).select("id", "sim", "band", "bh")
    val coldPairs = pairsOf(cold, Seq("band", "bh"))

    // Hot path: pack the 64 - bandBits bits OUTSIDE the matched band into
    // one value (low bits | high bits shifted down), then split it into
    // nBands sub-bands (the last takes any remainder bits). Literal
    // shifts per band index — Java shifts are mod 64, so the top band's
    // "high part" (a would-be >>> 64) must be dropped explicitly.
    val remBits = 64 - bandBits
    val subBits = remBits / nBands
    def remOf(i: Int): Column = {
      val low =
        if (i == 0) lit(0L)
        else col("sim").bitwiseAND(lit((1L << (i * bandBits)) - 1))
      val high =
        if (i == nBands - 1) lit(0L)
        else shiftleft(shiftright(col("sim"), (i + 1) * bandBits), i * bandBits)
      low.bitwiseOR(high)
    }
    val rem = (1 until nBands).foldLeft(when(col("band") === lit(0), remOf(0))) {
      (acc, i) => acc.when(col("band") === lit(i), remOf(i))
    }
    val subs = array((0 until nBands).map { j =>
      if (j == nBands - 1) shiftright(col("_rem"), j * subBits) // remainder bits included
      else shiftright(col("_rem"), j * subBits).bitwiseAND(lit((1L << subBits) - 1))
    }: _*)
    val hot = tagged.filter(col("_bw") > hotBucketRows)
      .select(col("id"), col("sim"), col("band"), col("bh"), rem.as("_rem"))
      .select(col("id"), col("sim"), col("band"), col("bh"),
        posexplode(subs).as(Seq("sub", "sbh")))
    val hotPairs = pairsOf(hot, Seq("band", "bh", "sub", "sbh"))

    try materializeThenRelease(coldPairs.union(hotPairs).distinct())
    finally sim.unpersist(blocking = false)
  }
}
