package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Gates for the approximate operators against their exact counterparts
  * (the driver's DuckDB oracle cannot express hash-derived candidates,
  * so this is where minhash/simhash/LSH correctness is enforced). */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def embs = spark.read.parquet(s"$dir/embeddings.parquet")

  test("duplicatedSpans: planted passages, interval merge, cross-doc-only semantics") {
    import spark.implicits._
    val n = 3
    // shared passage "p1..p5" planted mid-doc in docs 1 and 2 (different
    // surroundings); doc 3 repeats "r1 r2 r3" WITHIN itself only; doc 4
    // shares nothing; docs 5/6 share TWO passages separated by a gap
    // bigger than n (two spans), and one pair of adjacent passages
    // (merged into one span)
    val pass = "p1 p2 p3 p4 p5"
    val corpus = Seq(
      (1L, s"a1 a2 $pass a3 a4"),
      (2L, s"b1 b2 b3 $pass b4"),
      (3L, "r1 r2 r3 c1 c2 c3 r1 r2 r3"),
      (4L, "d1 d2 d3 d4 d5 d6 d7"),
      (5L, "q1 q2 q3 e1 e2 e3 e4 s1 s2 s3 s4 s5 s6"),
      (6L, "q1 q2 q3 f1 f2 f3 f4 s1 s2 s3 s4 s5 s6")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(corpus, "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force reference: all positional n-grams, cross-doc dup set,
    // interval merge with gap > n starting a new span
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val allGrams = rows.flatMap { case (id, ts) =>
      ts.sliding(n).zipWithIndex.filter(_._1.size == n)
        .map { case (g, i) => (id, i.toLong, g.mkString(" ")) } }
    val dupSet = allGrams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = allGrams.filter(g => dupSet(g._3)).groupBy(_._1).flatMap { case (id, gs) =>
      val ps = gs.map(_._2).sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (p <- ps) {
        if (spans.nonEmpty && p <= spans.last._2 + 1) {
          val l = spans.remove(spans.length - 1); spans += ((l._1, math.max(l._2, p + n - 1)))
        } else spans += ((p, p + n - 1))
      }
      spans.map { case (a, b) => (id, a, b) }
    }.toSet
    assert(got == want)
    // the semantics the operator promises, asserted directly:
    assert(got.exists(_._1 == 1L) && got.exists(_._1 == 2L), "planted passage found")
    assert(!got.exists(_._1 == 3L), "within-doc repetition is NOT cross-doc duplication")
    assert(!got.exists(_._1 == 4L), "unique doc untouched")
    assert(got.count(_._1 == 5L) == 2 && got.count(_._1 == 6L) == 2,
      "two separated shared passages stay two spans")

    // the consumer: cut the spans back out of the corpus
    val spans = Dedup.duplicatedSpans(corpus, "doc_id", "text", n)
    val cut = Dedup.cutSpans(corpus, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(cut.size == 6, "every document comes back")
    // untouched docs keep their original text verbatim, zero removed
    assert(cut(3L) == (("r1 r2 r3 c1 c2 c3 r1 r2 r3", 0L)))
    assert(cut(4L) == (("d1 d2 d3 d4 d5 d6 d7", 0L)))
    // cut docs: exactly the span tokens removed, remainder in order
    assert(cut(1L) == (("a1 a2 a3 a4", 5L)))
    assert(cut(2L) == (("b1 b2 b3 b4", 5L)))
    assert(cut(5L) == (("e1 e2 e3 e4", 9L)))
    assert(cut(6L) == (("f1 f2 f3 f4", 9L)))
    // a fully-covered document comes out empty, not missing
    val pair = Seq((10L, pass), (11L, pass)).toDF("doc_id", "text")
    val fullSpans = Dedup.duplicatedSpans(pair, "doc_id", "text", n)
    val fullCut = Dedup.cutSpans(pair, "doc_id", "text", fullSpans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(fullCut(10L) == (("", 5L)) && fullCut(11L) == (("", 5L)))
  }

  test("containmentPairs: brute-force equality, asymmetry, and quote detection") {
    import spark.implicits._
    // doc 20 is a paragraph QUOTED inside long doc 21: containment(20→21)
    // is 1.0 while the Jaccard is far below any useful threshold — the
    // case the operator exists for
    val quote = "alpha beta gamma delta epsilon zeta"
    val long = ("x" + (1 to 40).map(i => s"w$i").mkString(" ", " ", " ") +
      quote + (41 to 80).map(i => s"w$i").mkString(" ", " ", ""))
    val corpus = Seq(
      (20L, quote), (21L, long),
      (22L, "alpha beta gamma delta epsilon eta"),
      (23L, "one two three four five six seven"),
      (24L, "one two three four five six seven")) // exact dup of 23
    val df = corpus.toDF("doc_id", "text")
    val t = 0.8
    def shingles(s: String): Set[Seq[String]] =
      s.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.toSeq).toSet
    val sh = corpus.map { case (id, s) => id -> shingles(s) }.toMap
    val want = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if a != b && sa.nonEmpty
      c = sa.intersect(sb).size.toDouble / sa.size if c >= t
    } yield (a, b)).toSet
    val got = Dedup.containmentPairs(df, "doc_id", "text", n = 3, threshold = t)
    val gotPairs = got.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == want, s"got $gotPairs want $want")
    assert(gotPairs.contains((20L, 21L)), "quoted paragraph must be detected")
    assert(!gotPairs.contains((21L, 20L)), "containment is asymmetric")
    assert(gotPairs.contains((23L, 24L)) && gotPairs.contains((24L, 23L)),
      "exact duplicates contain each other both ways")
    // emitted containments are the exact ratios
    got.collect().foreach { r =>
      val c = sh(r.getLong(0)).intersect(sh(r.getLong(1))).size.toDouble /
        sh(r.getLong(0)).size
      assert(math.abs(r.getDouble(2) - c) < 1e-12)
    }
    got.unpersist()
    // randomized brute-force equality on the real corpus sample
    val sample = docs.limit(120).cache()
    val real = Dedup.containmentPairs(sample, "doc_id", "text", n = 3, threshold = 0.5)
    val rsh = sample.collect().map { r =>
      r.getAs[Long]("doc_id") -> shingles(r.getAs[String]("text"))
    }.toMap
    val rwant = (for {
      (a, sa) <- rsh.toSeq; (b, sb) <- rsh.toSeq
      if a != b && sa.nonEmpty
      c = sa.intersect(sb).size.toDouble / sa.size if c >= 0.5
    } yield (a, b)).toSet
    assert(real.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == rwant)
    real.unpersist(); sample.unpersist()
  }

  test("minhash LSH pairs: exact precision, near-total recall on planted near-dups") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    assert(mh.subsetOf(exact), "verification must make precision exact")
    assert(exact.nonEmpty, "test data should contain planted near-duplicates")
    // planted pairs sit at J >= 0.9 where banded-LSH recall is ~1
    assert(mh.size >= exact.size * 9 / 10,
      s"recall too low: ${mh.size}/${exact.size}")
  }

  test("editDistancePairs: Levenshtein verify over Jaccard candidates matches a reference DP") {
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val curr = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        curr(0) = i
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          curr(j) = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), sub)
        }
        Array.copy(curr, 0, prev, 0, curr.length)
      }
      prev(b.length)
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cands = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = cands.filter { case (a, b) => lev(texts(a), texts(b)) <= 5 }
      .map { case (a, b) => Seq(a, b, lev(texts(a), texts(b)).toLong) }.toSet
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        n = 3, candidateThreshold = 0.5, maxDistance = 5)
      .select(col("id1"), col("id2"), col("edit_dist").cast("long"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got ${got.size}, want ${want.size}")
    assert(want.nonEmpty && want.size < cands.length,
      "maxDistance must actually discriminate among candidates")
  }

  test("simhash banded search is EXACT for hamming <= maxHamming (pigeonhole)") {
    val sims = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (id1, s1) <- sims; (id2, s2) <- sims if id1 < id2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield Seq(id1, id2, h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select(col("id1"), col("id2"), col("hamming").cast("long"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    // band EXTENSION path (hotBucketRows = 0 forces every bucket through
    // the sub-band join): same exactness guarantee must hold
    val hot = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, hotBucketRows = 0)
      .select(col("id1"), col("id2"), col("hamming").cast("long"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hot == brute, "Manku band extension changed the result set")
    // and for a maxHamming where 64 % (maxHamming+1) != 0 (remainder bits)
    for (mh <- Seq(1, 2)) {
      val sub = (for {
        (id1, s1) <- sims; (id2, s2) <- sims if id1 < id2
        h = java.lang.Long.bitCount(s1 ^ s2) if h <= mh
      } yield Seq(id1, id2, h.toLong)).toSet
      val gotSub = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = mh, hotBucketRows = 0)
        .select(col("id1"), col("id2"), col("hamming").cast("long"))
        .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotSub == sub, s"maxHamming=$mh")
    }
  }

  test("LSH cosine pairs are a verified subset of exact pairs") {
    val exact = Similarity.cosinePairs(embs, "vec_id", "embedding", threshold = 0.3)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    val lsh = Similarity.lshPairs(embs, "vec_id", "embedding", threshold = 0.3,
      dim = 64, tables = 16, bits = 4)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall unexpectedly low: $recall")
    }
  }

  test("LSH auto-sized bits: verified subset of exact, bounded bucket occupancy") {
    val exact = Similarity.cosinePairs(embs, "vec_id", "embedding", threshold = 0.3)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    val lsh = Similarity.lshPairs(embs, "vec_id", "embedding", threshold = 0.3,
      dim = 64, tables = 16, targetBucketRows = 64)
    assert(lsh.select("id1", "id2").collect().map(_.toSeq).toSet.subsetOf(exact))
    lsh.unpersist()
    // the occupancy invariant the auto-sizing maintains: expected bucket
    // width n/2^bits stays near targetBucketRows, so the widest bucket
    // must sit far below the quadratic-blowup regime the guard protects
    val n = embs.count()
    val bits = math.max(4, math.ceil(math.log(n.toDouble / 64) / math.log(2.0)).toInt)
    val hp = {
      val rnd = new scala.util.Random(42L)
      Array.fill(16, bits, 64)(rnd.nextGaussian())
    }
    val maxBucket = embs.select(col("vec_id"),
        graft.functions.HashFunctions.hyperplaneSignatures(col("embedding"), hp).as("sigs"))
      .select(posexplode(col("sigs")).as(Seq("table", "sig")))
      .groupBy("table", "sig").count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= 16L * 64, s"widest bucket $maxBucket exceeds 16x target occupancy")
  }

  test("multi-probe LSH: recall dominates single-probe at identical signature cost") {
    val exact = Similarity.cosinePairs(embs, "vec_id", "embedding", threshold = 0.3)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    def lsh(mp: Boolean) = {
      val r = Similarity.lshPairs(embs, "vec_id", "embedding", threshold = 0.3,
        dim = 64, tables = 8, bits = 6, multiProbe = mp)
      val pairs = r.select("id1", "id2").collect().map(_.toSeq).toSet
      r.unpersist()
      pairs
    }
    val single = lsh(false)
    val multi = lsh(true)
    assert(multi.subsetOf(exact), "verification keeps precision exact")
    assert(single.subsetOf(multi), "1-bit probes only ADD candidate coverage")
    if (exact.nonEmpty) {
      val rs = single.size.toDouble / exact.size
      val rm = multi.size.toDouble / exact.size
      assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")
      assert(rm >= 0.8, s"multi-probe recall unexpectedly low: $rm")
    }
  }

  test("cosinePairs tripwire refuses corpora above maxRows, pointing at lshPairs") {
    import spark.implicits._
    val big = (1 to 50).map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(big, "vec_id", "embedding", threshold = 0.5, maxRows = 10)
    }
    assert(e.getMessage.contains("lshPairs"), e.getMessage)
    // maxRows = 0 disables the guard
    assert(Similarity.cosinePairs(big, "vec_id", "embedding", threshold = 0.999, maxRows = 0)
      .count() >= 0)
  }

  test("zero-norm embeddings never pair or rank — and never abort the job (ANSI divide-by-zero)") {
    import spark.implicits._
    // one all-zeros vector (a failed encoder output) in corpus AND query
    // side: every cosine surface must return defined results without it,
    // not die in the norm division under ANSI mode
    val rows = (1 to 20).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i + j).toFloat))) :+ (99L, Array.fill(4)(0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val topk = Similarity.topK(df, df, "vec_id", "embedding", k = 3)
    assert(topk.filter(col("query_id") === 99L || col("neighbor_id") === 99L).count() == 0)
    assert(topk.filter(col("query_id") === 1L).count() == 3)
    val t8 = Similarity.topKInt8(df, df, "vec_id", "embedding", k = 3)
    assert(t8.filter(col("query_id") === 99L || col("neighbor_id") === 99L).count() == 0)
    val cp = Similarity.cosinePairs(df, "vec_id", "embedding", threshold = 0.9)
    assert(cp.filter(col("id1") === 99L || col("id2") === 99L).count() == 0)
    val sp = Dedup.semanticPairs(df, "vec_id", "embedding", dim = 4,
      threshold = 0.9, nlist = 1)
    assert(sp.filter(col("id1") === 99L || col("id2") === 99L).count() == 0)
    sp.unpersist(blocking = false)
    val idx = Similarity.buildIvf(df, "vec_id", "embedding", dim = 4, nlist = 2, iters = 2)
      .persist()
    try {
      val got = idx.topK(df, "vec_id", "embedding", k = 3, nprobe = 2)
      assert(got.filter(col("query_id") === 99L || col("neighbor_id") === 99L).count() == 0)
    } finally idx.unpersist()
  }

  test("buildIvf sampled training: deterministic, recall earned, probe still == exact at full width") {
    import spark.implicits._
    // 3000 rows over 4 clear sign clusters; tiny trainPointsPerCentroid
    // FORCES the sampled path (cap = 4*8 = 32 << 3000)
    val rnd = new scala.util.Random(31)
    val centers = Array(Array(1f, 1f, 1f, 1f), Array(-1f, -1f, 1f, 1f),
      Array(1f, -1f, -1f, 1f), Array(-1f, 1f, -1f, -1f))
    val df = (0 until 3000).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + 0.1f * (rnd.nextFloat() * 2 - 1)))
    }.toDF("vec_id", "embedding")
    val a = Similarity.buildIvf(df, "vec_id", "embedding", dim = 4,
      nlist = 4, iters = 3, trainPointsPerCentroid = 8)
    val b = Similarity.buildIvf(df, "vec_id", "embedding", dim = 4,
      nlist = 4, iters = 3, trainPointsPerCentroid = 8)
    assert(a.centroids.flatten.toSeq == b.centroids.flatten.toSeq,
      "sampled training must stay a pure function of the data")
    // full-width probe == exact ranking (the narrowing-only property is
    // independent of how the centroids were trained)
    val q = df.filter(col("vec_id") < 8)
    val exact = Similarity.topK(df, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = a.topK(q, "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // pruned probe on a 32-point training sample still resolves the 4
    // clusters: recall earned, not assumed (nprobe=2: a lowest-id init
    // can seed one cluster twice, which merges two clusters into one
    // cell — an IVF init property independent of the sampling)
    val pruned = a.topK(q, "vec_id", "embedding", k = 5, nprobe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((pruned & exact).size.toDouble / exact.size >= 0.9,
      "32-row sampled centroids must still separate 4 clean sign clusters")
  }

  test("LSH occupancy guard trips loudly on degenerate (constant) embeddings") {
    import spark.implicits._
    val constant = (0 until 300)
      .map(i => (i.toLong, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshPairs(constant, "vec_id", "embedding", threshold = 0.5,
        dim = 8, tables = 4, targetBucketRows = 4, maxBucketFrac = 0.01)
    }
    assert(e.getMessage.contains("bucket"), e.getMessage)
  }

  test("IVF top-k with nprobe=nlist degenerates to exact brute-force top-k") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.topK(embs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 5, dim = 64, nlist = 8, nprobe = 8, iters = 2)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(ivf == exact)
  }

  test("IVF top-k with nprobe < nlist keeps high recall") {
    val queries = embs.filter(col("vec_id") < 20)
    val exact = Similarity.topK(embs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 5, dim = 64, nlist = 8, nprobe = 4, iters = 2)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall unexpectedly low: $recall")
  }

  test("mini-batch auto trainer: deterministic, and the layout probes exactly at full width") {
    import spark.implicits._
    // 3000 rows with nlist=4 and a shrunk floor: cap = max(4*256, 64) =
    // 1024 < 3000, so the MINI-BATCH path engages (batchStep =
    // ceil(3000/1024) = 3 — each Lloyd iteration sees a fresh ~1000-row
    // hash slice)
    val corpus = (0L until 3000L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.ann.autoTrainFloor", "64")
    try {
      val a = Similarity.buildIvf(corpus, "vec_id", "embedding", dim = 8,
        nlist = 4, iters = 2, trainPointsPerCentroid = 0)
      val b = Similarity.buildIvf(corpus, "vec_id", "embedding", dim = 8,
        nlist = 4, iters = 2, trainPointsPerCentroid = 0)
      assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq,
        "mini-batch training must be a pure function of the data (hash-salted batches)")
      // the mini-batch centroids differ from the static one-sample path
      // (different training mass) but the LAYOUT contract is unchanged:
      // full-width probe == exact brute force, whatever the centroids
      val static = Similarity.buildIvf(corpus, "vec_id", "embedding", dim = 8,
        nlist = 4, iters = 2, trainPointsPerCentroid = 256)
      assert(a.centroids.map(_.toSeq).toSeq != static.centroids.map(_.toSeq).toSeq,
        "the mini-batch path must actually have engaged (cap < n)")
      val q = corpus.filter(col("vec_id") < 5)
      val exact = Similarity.topK(corpus, q, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      val got = a.topK(q, "vec_id", "embedding", k = 3, nprobe = 4)
        .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      assert(got == exact)
      // every corpus row landed in a cell (no rows dropped by batching)
      assert(a.topWidths(4).sum == 3000L)
    } finally spark.conf.unset("spark.graft.ann.autoTrainFloor")
  }

  test("calibrateNprobe: clustered corpora calibrate narrow; target is monotone; bounds hold") {
    import spark.implicits._
    // 4 well-separated sign-pattern clusters in 4-d: a query's true
    // neighbors are its cluster-mates, which share its cell, so the
    // measured cell recall saturates at a tiny probe width
    val pats = Seq(Seq(1.0, 1.0, 1.0, 1.0), Seq(-1.0, -1.0, 1.0, 1.0),
      Seq(1.0, -1.0, -1.0, 1.0), Seq(-1.0, 1.0, -1.0, -1.0))
    val rows = (0L until 400L).map { i =>
      val p = pats((i % 4).toInt)
      val jitter = 0.05 * ((i / 4 % 7).toDouble / 7.0 - 0.5)
      (i, p.map(_ * (1.0 + jitter)).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val idx = Similarity.buildIvf(df, "vec_id", "embedding", dim = 4,
      nlist = 4, iters = 4)
    val tight = idx.calibrateNprobe(targetCellRecall = 0.95, sampleQueries = 16,
      neighborsPerQuery = 5)
    assert(tight >= 1 && tight <= 2,
      s"well-separated clusters should calibrate to ~1 probed cell, got $tight")
    val loose = idx.calibrateNprobe(targetCellRecall = 0.5, sampleQueries = 16,
      neighborsPerQuery = 5)
    assert(loose <= tight, s"calibration must be monotone in the target: $loose > $tight")
    // the calibrated width actually earns the recall it promised
    val q = df.filter(col("vec_id") < 8)
    val exact = Similarity.topK(df, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val probed = idx.topK(q, "vec_id", "embedding", k = 5, nprobe = tight)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val recall = probed.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"calibrated nprobe=$tight under-delivers: recall $recall")
    // uniform-ish real testdata: result stays in [1, nlist]
    val idx2 = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, iters = 2)
    val p2 = idx2.calibrateNprobe(targetCellRecall = 0.9, sampleQueries = 8)
    assert(p2 >= 1 && p2 <= 8)
  }

  test("calibration memo travels with the snapshot: reload skips the scan") {
    // IVF: calibrate -> save -> load -> same width, ZERO scans on the
    // reloaded index (the width is a pure function of the index and the
    // estimator params, so it is snapshot state, not session state)
    val p1 = java.nio.file.Files.createTempDirectory("ivf-cal-").toString
    val idx = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, iters = 2)
    val cal = idx.calibrateNprobe(0.9, sampleQueries = 8)
    assert(idx.calibrationScans == 1)
    idx.save(p1)
    val loaded = Similarity.loadIvf(spark, p1)
    assert(loaded.calibrateNprobe(0.9, sampleQueries = 8) == cal)
    assert(loaded.calibrationScans == 0,
      "a snapshot-earned width must not re-scan on the reloaded index")
    // a DIFFERENT estimator key still scans (and memoizes) normally
    loaded.calibrateNprobe(0.5, sampleQueries = 8)
    assert(loaded.calibrationScans == 1)
    // pre-r12 snapshot shape (no calibration dir): load works, scans lazily
    val noCal = new java.io.File(p1, "calibration")
    noCal.listFiles().foreach(_.delete()); noCal.delete()
    val legacy = Similarity.loadIvf(spark, p1)
    assert(legacy.calibrateNprobe(0.9, sampleQueries = 8) == cal)
    assert(legacy.calibrationScans == 1)
    // IVFPQ: same contract
    val p2 = java.nio.file.Files.createTempDirectory("ivfpq-cal-").toString
    val pq = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 4, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val calPq = pq.calibrateNprobe(embs, "vec_id", "embedding", 0.9, sampleQueries = 8)
    pq.save(p2)
    pq.unpersist()
    val loadedPq = Similarity.loadIvfPq(spark, p2)
    assert(loadedPq.calibrateNprobe(embs, "vec_id", "embedding", 0.9,
      sampleQueries = 8) == calPq)
    assert(loadedPq.calibrationScans == 0)
    // appending INVALIDATES the persisted widths: the occupancies they
    // were measured against changed — the reloaded index must re-scan.
    // Fresh path with a calibration table KNOWN to be present first.
    val p3 = java.nio.file.Files.createTempDirectory("ivf-cal-append-").toString
    legacy.save(p3)
    assert(Similarity.loadIvf(spark, p3).calibrationScans == 0 &&
      { val l = Similarity.loadIvf(spark, p3)
        l.calibrateNprobe(0.9, sampleQueries = 8); l.calibrationScans } == 0,
      "precondition: p3 carries the persisted width")
    Similarity.appendToIvf(spark, p3,
      embs.filter(col("vec_id") < 5).withColumn("vec_id", col("vec_id") + 100000),
      "vec_id", "embedding")
    val afterAppend = Similarity.loadIvf(spark, p3)
    afterAppend.calibrateNprobe(0.9, sampleQueries = 8)
    assert(afterAppend.calibrationScans == 1,
      "a post-append load must not reuse pre-append calibrated widths")
  }

  test("calibrateNprobe: full-range long ids calibrate normally (no silent sample loss)") {
    import spark.implicits._
    // r11 regression: the cell tag was id*nlist+c with an overflow guard
    // abs(id) < Long.MaxValue/(2*nlist) — hashed/full-range ids (the id
    // shape a real ingestion pipeline produces) silently failed the
    // guard, emptied the sample, and calibration fell back to nlist/4
    // with no diagnostic. The cell now rides the heap directly, so id
    // magnitude is irrelevant: huge-id clustered data must calibrate as
    // narrow as small-id data, not to the nlist/4(=4) fallback.
    val pats = (0 until 16).map(p =>
      Array.tabulate(8)(j => if (((p >> (j % 4)) & 1) == 1) 1.0 else -1.0))
    val base = Long.MaxValue - 100000L // all ids fail the old guard
    val rows = (0L until 800L).map { i =>
      val p = pats((i % 16).toInt)
      val jitter = 0.05 * ((i / 16 % 7).toDouble / 7.0 - 0.5)
      (base - i, p.map(_ * (1.0 + jitter)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val idx = Similarity.buildIvf(df, "vec_id", "embedding", dim = 8,
      nlist = 16, iters = 4)
    val cal = idx.calibrateNprobe(targetCellRecall = 0.95, sampleQueries = 16,
      neighborsPerQuery = 5)
    assert(cal >= 1 && cal <= 2,
      s"well-separated huge-id clusters must calibrate narrow (old bug fell back to 4), got $cal")
  }

  test("IVF survives a corpus smaller than nlist (fewer centroids than requested)") {
    val tiny = embs.filter(col("vec_id") < 5) // 5 vectors, nlist = 16
    val queries = tiny.filter(col("vec_id") < 2)
    val ivf = Similarity.ivfTopK(tiny, queries, "vec_id", "embedding",
      k = 3, dim = 64, nlist = 16, nprobe = 16, iters = 2)
    val exact = Similarity.topK(tiny, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(ivf.select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet == exact)
  }

  test("appendToIvf: saved snapshot extends without retrain; merged probe re-earns recall") {
    val path = java.nio.file.Files.createTempDirectory("ivf-append-").toString
    val partA = embs.filter(col("vec_id") % 4 =!= 0)
    val partB = embs.filter(col("vec_id") % 4 === 0)
    val built = Similarity.buildIvf(partA, "vec_id", "embedding",
      dim = 64, nlist = 16, iters = 3)
    built.save(path)
    val centroidsBefore = built.centroids.map(_.toSeq)
    val nB = partB.count()
    val appended = Similarity.appendToIvf(spark, path, partB, "vec_id", "embedding")
    assert(appended == nB, s"all $nB well-formed vectors must append, got $appended")
    val merged = Similarity.loadIvf(spark, path)
    // no retrain: centroids byte-identical to the pre-append snapshot
    assert(merged.centroids.map(_.toSeq).toSeq == centroidsBefore.toSeq)
    // appended rows landed in their nearest existing centroid's cell
    val layout = spark.read.parquet(s"$path/layout")
    assert(layout.count() == partA.count() + nB)
    val bRows = layout.filter(col("id") % 4 === 0)
      .select("id", "v", "c").collect()
    assert(bRows.length == nB.toInt)
    bRows.take(20).foreach { r =>
      val v = r.getSeq[Number](1).map(_.doubleValue()).toArray
      val want = centroidsBefore.zipWithIndex.minBy { case (cvec, _) =>
        cvec.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      }._2
      assert(r.getInt(2) == want, s"row ${r.getLong(0)} cell ${r.getInt(2)} != nearest $want")
    }
    // recall gate re-earned on the MERGED index vs exact top-k on the
    // union (the ann_ivf contract: uniform data needs a wide probe)
    val queries = embs.filter(col("vec_id") < 20)
    val exact = Similarity.topK(embs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val got = merged.topK(queries, "vec_id", "embedding", k = 5, nprobe = 12)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"merged-index recall too low: $recall")
    // appended files join the same cell partitions, so probes of the
    // MERGED snapshot keep static partition pruning
    val plan = merged.topK(queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [c#") || plan.contains("PartitionFilters: [(c#"),
      s"merged snapshot probe must partition-prune:\n$plan")
    // append refuses type-incoherent rows loudly
    val doubled = partB.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvf(spark, path, doubled, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("parquet-schema-coherent"))
  }

  test("int8-quantized top-k keeps high recall against the exact float path") {
    val queries = embs.filter(col("vec_id") < 30)
    val exact = Similarity.topK(embs, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val q8 = Similarity.topKInt8(embs, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val recall = q8.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall@10 unexpectedly low: $recall")
  }

  test("int8 quantization round-trip error is bounded by scale/2 per element") {
    import graft.functions.QuantFunctions._
    val r = embs.limit(100).select(col("embedding"),
        quantizeInt8(col("embedding")).as("qz"))
      .select(col("embedding"), col("qz.scale").as("scale"),
        dequantizeInt8(col("qz")).as("back"))
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val orig = row.getSeq[Float](0)
      val scale = row.getDouble(1)
      val back = row.getSeq[Double](2)
      assert(orig.length == back.length)
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= scale / 2 + 1e-12,
          s"|$o - $b| > scale/2 = ${scale / 2}")
      }
    }
  }

  test("semanticPairs: nlist=1 degenerates to the exact all-pairs scan") {
    val exact = Similarity.cosinePairs(embs, "vec_id", "embedding", threshold = 0.3)
      .collect().map(_.toSeq).toSet
    val got = Dedup.semanticPairs(embs, "vec_id", "embedding", dim = 64,
      threshold = 0.3, nlist = 1)
      .collect().map(_.toSeq).toSet
    assert(got == exact && exact.nonEmpty)
  }

  test("semanticPairs: subset-of-exact with full recall on planted semantic dups") {
    import spark.implicits._
    // corpus: 40 random unit-ish vectors (pairwise cos well below 0.9)
    // plus 10 planted near-parallel perturbations of the first 10
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0 until 40).map(i => (i.toLong, vec()))
    val dups = (0 until 10).map { i =>
      val b = base(i)._2
      (100L + i, b.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    }
    val df = (base ++ dups).toDF("id", "v")
    val exact = Similarity.cosinePairs(df, "id", "v", threshold = 0.9)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    val planted: Set[Seq[Any]] = (0 until 10).map(i => Seq[Any](i.toLong, 100L + i)).toSet
    assert(planted.subsetOf(exact), "fixture: planted dups must verify exactly")
    val got = Dedup.semanticPairs(df, "id", "v", dim = 16,
      threshold = 0.9, nlist = 4)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    assert(got.subsetOf(exact), "cell verification must make precision exact")
    // a near-parallel pair shares its nearest centroid: recall 1.0 here
    assert(planted.subsetOf(got), s"missed planted dups: ${planted -- got}")
  }

  test("minhashPairsAgainst: cross-corpus pairs are subset-of-exact with full planted recall") {
    import graft.functions.TextFunctions
    // exact cross jaccard by brute force over the shingle sets (50 docs)
    val sh = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_t"))
      .select(col("doc_id"), TextFunctions.shingleSetFromTokens(col("_t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val exact = (for {
      (id1, s1) <- sh.toSeq if id1 % 2 == 1; (id2, s2) <- sh.toSeq if id2 % 2 == 0
      if s1.nonEmpty || s2.nonEmpty
      j = sh(id1).intersect(s2).size.toDouble / (s1 ++ s2).size if j >= 0.5
    } yield (id1, id2)).toSet
    val got = Dedup.minhashPairsAgainst(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    // planted near-dups sit at J >= 0.9 where banded recall is ~1
    assert(got == exact, s"missed cross pairs: ${exact -- got}")
    assert(exact.nonEmpty, "fixture should contain cross-parity planted dups")
  }

  test("admitBatch: within-batch self-dedup — one survivor per cluster, contaminated clusters admit nothing") {
    import spark.implicits._
    // token universe t1..t60; sliding windows control trigram Jaccard:
    //   ref100 = t1..t40, doc3 = t6..t45  (J ≈ 0.77 ≥ 0.7: ref match)
    //   doc4 = t11..t50: J(4,3) ≈ 0.77 (in-batch pair) but
    //   J(4,100) ≈ 0.58 < 0.7 — NOT a direct ref match, so doc4 is
    //   rejected only through its cluster (the flagNearDupsAgainst
    //   static-reference contract would have admitted it)
    def win(lo: Int, hi: Int) = (lo to hi).map(i => s"t$i").mkString(" ")
    def uwin(lo: Int, hi: Int) = (lo to hi).map(i => s"u$i").mkString(" ")
    val ref = Seq((100L, win(1, 40)), (101L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, uwin(1, 40)),                       // admitted (cluster {1,2} min)
      (2L, uwin(1, 39) + " uEND"),             // batch_dup of 1 (J ≈ 0.85)
      (3L, win(6, 45)),                        // ref_dup of 100
      (4L, win(11, 50)),                       // ref_dup_cluster via 3
      (5L, (1 to 40).map(i => s"v$i").mkString(" "))) // singleton, admitted
      .toDF("doc_id", "text")
    val index = Dedup.buildMinhashIndex(ref, "doc_id", "text", n = 3)
    try {
      // premise check: doc4 would PASS the static-reference-only probe
      val staticOnly = Dedup.flagNearDupsAgainst(index, batch, "doc_id", "text", 0.7)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(staticOnly == Set(3L), s"fixture premise: only doc3 matches the index, got $staticOnly")
      val got = Dedup.admitBatch(index, batch, "doc_id", "text", threshold = 0.7)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getString(2),
            if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      assert(got == Map(
        1L -> ((true, "admitted", -1L)),
        2L -> ((false, "batch_dup", 1L)),
        3L -> ((false, "ref_dup", 100L)),
        4L -> ((false, "ref_dup_cluster", 3L)),
        5L -> ((true, "admitted", -1L))), s"got $got")

      // extendMinhashIndex: the admitted docs become visible to the
      // NEXT batch's probe
      val admitted = batch.filter(col("doc_id").isin(1L, 5L))
      val extended = Dedup.extendMinhashIndex(index, admitted, "doc_id", "text")
      try {
        val next = Seq((10L, uwin(1, 39) + " uNEW")).toDF("doc_id", "text")
        val flagged = Dedup.flagNearDupsAgainst(extended, next, "doc_id", "text", 0.7)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(flagged == Map(10L -> 1L),
          s"near-dup of an admitted doc must be flagged against the extended index: $flagged")
      } finally extended.unpersist()
    } finally index.unpersist()
  }

  test("admitBatch: empty batch and all-unique batch degenerate cleanly") {
    import spark.implicits._
    val ref = Seq((100L, (1 to 20).map(i => s"r$i").mkString(" "))).toDF("doc_id", "text")
    val index = Dedup.buildMinhashIndex(ref, "doc_id", "text", n = 3)
    try {
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      assert(Dedup.admitBatch(index, empty, "doc_id", "text", 0.5).count() == 0)
      val unique = Seq(
        (1L, (1 to 20).map(i => s"a$i").mkString(" ")),
        (2L, (1 to 20).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
      val got = Dedup.admitBatch(index, unique, "doc_id", "text", 0.5)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == Map(1L -> true, 2L -> true), s"all-unique batch admits everything: $got")
    } finally index.unpersist()
  }

  test("admitBatch refuses streaming frames, naming foreachBatch") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val index = Dedup.buildMinhashIndex(ref, "doc_id", "text", n = 3)
    try {
      val stream = spark.readStream.schema(ref.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet("/root/testdata/sf0.001")
      val e = intercept[IllegalArgumentException] {
        Dedup.admitBatch(index, stream, "doc_id", "text", 0.5)
      }
      assert(e.getMessage.contains("foreachBatch"))
    } finally index.unpersist()
  }

  test("labelComponents rejects non-integral id columns loudly") {
    import spark.implicits._
    val members = Seq("doc-1", "doc-2").toDF("id")
    val pairs = Seq(("doc-1", "doc-2")).toDF("id1", "id2")
    val e = intercept[IllegalArgumentException] {
      Dedup.labelComponents(members, "id", pairs)
    }
    assert(e.getMessage.contains("integral id columns"))
  }

  test("semanticPairs hot-cell guard trips loudly on an identical-embedding mass") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val massVec = Array.fill(8)(rnd.nextGaussian().toFloat)
    val rows = (0 until 80).map(i => (i.toLong, massVec)) ++
      (80 until 120).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticPairs(df, "id", "v", dim = 8, threshold = 0.9, hotCellRows = 32)
    }
    // the diagnostic must name the cause: a hot cell dominated by
    // identical vectors (exact-dedup-upstream fix, not nlist)
    assert(e.getMessage.contains("hotCellRows") &&
      e.getMessage.contains("distinct vectors"))
    // guard disabled: the same corpus completes, and the identical mass
    // produces its full quadratic pair set (cos = 1 for all C(80,2))
    val pairs = Dedup.semanticPairs(df, "id", "v", dim = 8, threshold = 0.9,
      hotCellRows = 0)
    assert(pairs.filter(col("id1") < 80 && col("id2") < 80).count() == 80L * 79 / 2)
    pairs.unpersist(blocking = false)
  }

  test("semanticClusters: identical-embedding collapse completes the corpus the pair guard refuses") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val massVec = Array.fill(8)(rnd.nextGaussian().toFloat)
    val rows = (0 until 80).map(i => (i.toLong, massVec)) ++
      (80 until 120).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))) :+
      (999L, Array.fill(8)(0.0f)) // zero norm: never pairs, stays singleton
    val df = rows.toDF("id", "v")
    spark.conf.set("spark.graft.dedup.collapseMinSampledDups", "0")
    try {
      // the SAME hotCellRows=32 that refuses the pair contract (see the
      // guard spec above): clustering completes, because after collapse
      // the cells hold distinct vectors only
      val got = Dedup.semanticClusters(df, "id", "v", dim = 8,
        threshold = 0.9, hotCellRows = 32)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0 until 80).forall(i => got(i.toLong) == 0L),
        "identical mass collapses to one cluster at its min id")
      assert(got(999L) == 999L, "zero-norm vector stays a singleton")
      // nlist=1 (exact all-pairs, no kmeans involved): collapsed and
      // uncollapsed labelings are bit-identical on a mixed corpus
      val small = ((0 until 10).map(i => (i.toLong, massVec)) ++
        (10 until 30).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))) :+
        (99L, Array.fill(8)(0.0f))).toDF("id", "v")
      val collapsed = Dedup.semanticClusters(small, "id", "v", dim = 8,
        threshold = 0.9, nlist = 1, hotCellRows = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Dedup.semanticClusters(small, "id", "v", dim = 8,
        threshold = 0.9, nlist = 1, hotCellRows = 0, collapseIdentical = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(collapsed == full, s"$collapsed vs $full")
    } finally spark.conf.unset("spark.graft.dedup.collapseMinSampledDups")
  }

  test("semanticClusters labels transitive chains and leaves singletons alone") {
    import spark.implicits._
    // chain: 1 ~ 2 ~ 3 (1 and 3 NOT directly similar), singleton 9 —
    // unit vectors at 0/20/40 degrees in a 2-plane: cos(20°) ≈ 0.94
    // links the neighbors, cos(40°) ≈ 0.77 keeps the ends apart
    def rot(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat) ++ Array.fill(14)(0.0f)
    }
    val lone = Array.fill(16)(0.0f); lone(15) = 1.0f
    val df = Seq((1L, rot(0)), (2L, rot(20)), (3L, rot(40)), (9L, lone))
      .toDF("id", "v")
    // verify the chain premise on the exact pair set at this threshold
    val exact = Similarity.cosinePairs(df, "id", "v", threshold = 0.93)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)) && exact.contains((2L, 3L)) && !exact.contains((1L, 3L)),
      s"fixture premise broken: $exact")
    val got = Dedup.semanticClusters(df, "id", "v", dim = 16,
      threshold = 0.93, nlist = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L), s"got $got")
  }

  test("IvfIndex save/load round-trips: probes on the reloaded snapshot match") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toFile.getAbsolutePath
    val built = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64, nlist = 8, iters = 2)
    built.save(tmp)
    val loaded = Similarity.loadIvf(spark, tmp)
    assert(loaded.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq)
    val queries = embs.filter(col("vec_id") < 15)
    val want = built.topK(queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    val got = loaded.topK(queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // the probed-cells isin predicate must reach the snapshot scan as a
    // STATIC partition filter (read nprobe-ish cells' files, not all)
    val plan = loaded.topK(queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [c#") || plan.contains("PartitionFilters: [(c#"),
      s"expected a partition filter on c in:\n$plan")
  }

  test("int8 quantization nulls out NaN/Infinity vectors on both exec paths") {
    import graft.functions.QuantFunctions._
    import spark.implicits._
    val df = Seq(
      Array(1.0f, Float.NaN, 3.0f),
      Array(1.0f, Float.PositiveInfinity),
      Array(1.0f, 2.0f)).toDF("v")
    def nullsOf(df0: org.apache.spark.sql.DataFrame): Seq[Boolean] =
      df0.select(quantizeInt8(col("v")).as("qz")).collect().map(_.isNullAt(0)).toSeq
    // codegen (default) path
    assert(nullsOf(df) == Seq(true, true, false))
    // interpreted path: disable codegen so nullSafeEval runs
    val conf = spark.conf
    val oldWs = conf.get("spark.sql.codegen.wholeStage")
    val oldFm = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(nullsOf(df) == Seq(true, true, false))
    finally {
      conf.set("spark.sql.codegen.wholeStage", oldWs)
      conf.set("spark.sql.codegen.factoryMode", oldFm)
    }
  }

  test("IvfIndex: build once, probe many — identical to the one-shot path") {
    val idx = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64, nlist = 8, iters = 2)
      .persist()
    try {
      for ((qmax, k, np) <- Seq((10, 5, 8), (20, 3, 4))) {
        val queries = embs.filter(col("vec_id") < qmax)
        val fromIndex = idx.topK(queries, "vec_id", "embedding", k = k, nprobe = np)
          .collect().map(_.toSeq).toSet
        val oneShot = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
          k = k, dim = 64, nlist = 8, nprobe = np, iters = 2)
          .collect().map(_.toSeq).toSet
        assert(fromIndex == oneShot, s"qmax=$qmax k=$k nprobe=$np")
      }
    } finally idx.unpersist()
  }

  test("near-dup clusters: genuinely transitive chains collapse to one component") {
    import spark.implicits._
    // doc_i = block_i ++ block_{i+1}: ADJACENT docs share one 30-word
    // block (trigram J ~= 0.33); docs two or more hops apart share
    // nothing (J = 0). Only the chain's transitive closure unites them.
    def block(b: Int) = (1 to 30).map(i => s"b${b}w$i").mkString(" ")
    val docs = (0 until 4).map(i => ((i + 1) * 10L, block(i) + " " + block(i + 1)))
    val df = (docs :+ (99L, (100 to 130).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    // sanity: adjacent pairs qualify at 0.3, non-adjacent pairs do not
    val pairSet = Dedup.jaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((10L, 20L), (20L, 30L), (30L, 40L)), s"pairs: $pairSet")
    // both strategies must agree: driver union-find and distributed
    // min-label propagation (forced via driverMaxEdges = 0)
    for (driverMax <- Seq(1000000, 0)) {
      val got = Dedup.clusters(df, "doc_id", "text", n = 3, threshold = 0.3,
        driverMaxEdges = driverMax)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(Seq(10L, 20L, 30L, 40L).forall(got(_) == 10L),
        s"chain should collapse to min id (driverMax=$driverMax): $got")
      assert(got(99L) == 99L)
    }
  }

  test("clusters: exact-duplicate collapse is label-identical to the full pair graph") {
    import spark.implicits._
    // The skew shape collapse exists for: E identical copies of one
    // boilerplate text (E²/2 edges uncollapsed), a near-dup variant that
    // must still join their cluster THROUGH the representative, identical
    // sub-n-token texts that must STAY singletons (empty shingle set ⇒
    // never paired, J undefined), and an unrelated singleton.
    val boiler = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearVar = (1 to 36).map(i => s"w$i").mkString(" ") + " x1 x2 x3 x4"
    val docs =
      (1 to 12).map(i => (i * 10L, boiler)) ++        // 12 identical copies
      Seq(500L -> nearVar,                            // near-dup of boiler
          600L -> "tiny doc", 700L -> "tiny doc",     // identical, 2 tokens < n
          800L -> (100 to 140).map(i => s"z$i").mkString(" "))
    val df = docs.toDF("doc_id", "text")
    // force the adaptive gate ON (a 17-doc corpus never samples enough
    // duplicates to trip it naturally; DedupBench --dupskew covers the
    // natural trip at scale)
    spark.conf.set("spark.graft.dedup.collapseMinSampledDups", "0")
    try {
      for (driverMax <- Seq(1000000, 0)) {
        val full = Dedup.clusters(df, "doc_id", "text", n = 3, threshold = 0.5,
          driverMaxEdges = driverMax, collapseIdentical = false)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val collapsed = Dedup.clusters(df, "doc_id", "text", n = 3, threshold = 0.5,
          driverMaxEdges = driverMax, collapseIdentical = true)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(collapsed == full, s"driverMax=$driverMax")
        // and the labeling is the one the scenario demands
        assert((1 to 12).forall(i => collapsed(i * 10L) == 10L))
        assert(collapsed(500L) == 10L, "near-dup variant joins via the representative")
        assert(collapsed(600L) == 600L && collapsed(700L) == 700L,
          "identical sub-n-token docs stay singletons on both paths")
        assert(collapsed(800L) == 800L)
      }
      // retainBest rides the same collapse: best-quality member survives
      // regardless of whether it is the representative
      val withQ = df.withColumn("q",
        when(col("doc_id") === 110L, 9.0).otherwise(col("doc_id").cast("double") / 100))
      val kept = Dedup.retainBest(withQ, "doc_id", "text", "q", n = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap // cluster_id -> keep_id
      assert(kept(10L) == 110L, s"argmax-quality member must survive: $kept")
    } finally spark.conf.unset("spark.graft.dedup.collapseMinSampledDups")
  }

  test("clustersLsh: banded finder under the same labeling — equal to exact clusters at full recall") {
    import spark.implicits._
    // near-dup pairs at J ~ 0.93 (one appended token on a 40-word base)
    // — far above the 16-band/r=4 recall knee, where banded recall is
    // ~1.0 and the labeling must EQUAL the exact finder's. (The exact
    // clusters spec covers low-J transitive chains; at J near the
    // threshold the banded finder's probabilistic-recall contract
    // legitimately diverges.)
    def base(g: Int) = (1 to 40).map(i => s"g${g}w$i").mkString(" ")
    val docs = (0 until 3).flatMap(g => Seq(
      (g * 10L + 10, base(g)), (g * 10L + 11, base(g) + " extra")))
    val df = (docs ++ (1 to 8).map(i => (200L + i, base(9))) :+
      (99L, (100 to 130).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    spark.conf.set("spark.graft.dedup.collapseMinSampledDups", "0")
    try {
      for (collapse <- Seq(true, false)) {
        val exact = Dedup.clusters(df, "doc_id", "text", n = 3, threshold = 0.5,
          collapseIdentical = collapse)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val lsh = Dedup.clustersLsh(df, "doc_id", "text", n = 3, threshold = 0.5,
          collapseIdentical = collapse)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(lsh == exact, s"collapse=$collapse")
        assert((0 until 3).forall(g =>
          lsh(g * 10L + 10) == g * 10L + 10 && lsh(g * 10L + 11) == g * 10L + 10))
        assert((1 to 8).forall(i => lsh(200L + i) == 201L),
          "identical-copy group collapses to its min id")
        assert(lsh(99L) == 99L)
      }
    } finally spark.conf.unset("spark.graft.dedup.collapseMinSampledDups")
  }

  test("distributed clusters path fails loudly when the round cap is below the diameter") {
    import spark.implicits._
    def block(b: Int) = (1 to 30).map(i => s"b${b}w$i").mkString(" ")
    val docs = (0 until 5).map(i => ((i + 1) * 10L, block(i) + " " + block(i + 1)))
    val df = docs.toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.clusters(df, "doc_id", "text", n = 3, threshold = 0.3,
        maxRounds = 1, driverMaxEdges = 0).collect()
    }
  }

  test("labelComponents: the distributed path equals the driver union-find on long paths") {
    import spark.implicits._
    // a path 0-1-...-L needs L propagation rounds plus one to see the
    // fixpoint; L = 19 is the deepest the default 20 rounds allow. Each
    // round's plan must stay constant-size for these to finish, and once
    // the result is unpersisted no round's checkpoint may stay behind.
    val sc = spark.sparkContext
    for (len <- Seq(8, 19)) {
      val ids = (0L to len).toDF("id")
      val pairs = (0L until len).map(i => (i + 1, i)).toDF("id1", "id2")
      def labels(driverMaxEdges: Int) = {
        val before = sc.getPersistentRDDs.keySet
        val out = Dedup.labelComponents(ids, "id", pairs, driverMaxEdges = driverMaxEdges)
        try out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally {
          out.unpersist(blocking = true)
          // block removal is asynchronous; the driver-side registry is not
          assert(sc.getPersistentRDDs.keySet.subsetOf(before), s"path of length $len")
        }
      }
      val viaDriver = labels(1000000)
      assert(viaDriver == (0L to len).map(_ -> 0L).toSet)
      assert(labels(0) == viaDriver, s"path of length $len")
    }
  }

  test("exactBest keeps the highest-quality duplicate, ties to the lower id") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text", 5.0), (2L, "same text", 9.0), (3L, "same text", 9.0),
      (4L, "unique", 1.0))
      .toDF("doc_id", "text", "q")
    val got = Dedup.exactBest(df, "doc_id", "text", "q")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // id 2 wins the triplicate (q=9.0 tie broken to lower id); singleton kept
    assert(got == Set((2L, 9.0, 3L), (4L, 1.0, 1L)))
  }

  test("retainBest keeps the argmax-quality member per near-dup cluster") {
    import spark.implicits._
    // three near-identical docs (one cluster) + one unrelated singleton
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (10L, base, 5.0),
      (20L, base + " extra", 9.0),
      (30L, base, 9.0),
      (40L, "completely different content about distributed query engines", 2.0))
      .toDF("doc_id", "text", "q")
    val got = Dedup.retainBest(df, "doc_id", "text", "q", n = 3, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // cluster label is the min reachable id (10); id 20 wins on q=9.0
    // (tie with 30 broken to the lower id); the singleton keeps itself
    assert(got == Set((10L, 20L, 9.0, 3L), (40L, 40L, 2.0, 1L)))
  }

  test("canonical fingerprint dedup collapses word-order permutations") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val got = Dedup.canonical(df, "doc_id", "text")
      .select("keep_id", "n_docs").collect().map(_.toSeq).toSet
    assert(got == Set(Seq(1L, 2L), Seq(3L, 1L)))
  }
}
