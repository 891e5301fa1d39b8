package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.functions.PqFunctions

/** Product-quantization gates: kernel contracts against hand-computed
  * values, train determinism, the ADC≡reconstruction identity, recall
  * of the re-ranked probe against the exact ranking, and the totality
  * contract on zero-norm vectors. */
class PqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private def embs = spark.read.parquet(s"$dir/embeddings.parquet")

  // m=2 subspaces of dsub=2 over 4-dim vectors, ksub=2 codewords each
  private val books: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(1.0, 1.0)), // subspace 0
    Array(Array(1.0, 0.0), Array(0.0, 1.0))  // subspace 1
  )

  test("pqAssignCodes: hand-computed argmins, tie to lower code, length/null contracts") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.1, 0.1, 0.9, 0.1)),  // sub0 -> code 0, sub1 -> code 0
      (2L, Array(0.9, 0.9, 0.1, 0.9)),  // sub0 -> code 1, sub1 -> code 1
      (3L, Array(0.5, 0.5, 0.5, 0.5)),  // both subspaces TIE -> lower code 0
      (4L, Array(0.1, 0.2, 0.3))        // wrong length -> null
    ).toDF("id", "v")
    val got = df.select(col("id"), PqFunctions.pqAssignCodes(col("v"), books).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Byte](1))).toMap
    assert(got(1L) == Seq(0.toByte, 0.toByte))
    assert(got(2L) == Seq(1.toByte, 1.toByte))
    assert(got(3L) == Seq(0.toByte, 0.toByte), "ties break to the lower codeword")
    assert(got(4L) == null, "wrong-length vector encodes to null, never truncated")
  }

  test("pqAdcTable + pqAdcScore: table entries are subspace dots; ADC == dot with reconstruction") {
    import spark.implicits._
    val q = Array(0.25, 0.5, 0.75, 1.0)
    val df = Seq(Tuple1(q)).toDF("q")
    val tab = df.select(PqFunctions.pqAdcTable(col("q"), books))
      .head().getSeq[Double](0)
    // layout: [s0c0, s0c1, s1c0, s1c1]
    assert(tab == Seq(0.0, 0.25 + 0.5, 0.75, 1.0))
    // ADC score of codes (1, 0) == dot(q, reconstruction) where
    // reconstruction = book[0][1] ++ book[1][0] = (1,1,1,0)
    // Seq[Byte] (NOT Array[Byte], which Spark maps to BinaryType)
    val scored = Seq((Seq(1.toByte, 0.toByte), tab))
      .toDF("codes", "tab")
      .select(PqFunctions.pqAdcScore(col("codes"), col("tab"), m = 2, ksub = 2))
      .head().getDouble(0)
    assert(math.abs(scored - (0.25 + 0.5 + 0.75)) < 1e-12)
    // shape contracts: short codes / wrong-size table / out-of-range code -> null
    val bad = Seq(
      (Seq(1.toByte), tab),                       // codes too short
      (Seq(1.toByte, 0.toByte), Seq(1.0, 2.0)),   // table too small
      (Seq(5.toByte, 0.toByte), tab)              // code >= ksub
    ).toDF("codes", "tab")
    assert(bad.select(PqFunctions.pqAdcScore(col("codes"), col("tab"), m = 2, ksub = 2))
      .collect().forall(_.isNullAt(0)))
  }

  test("pqTrain: deterministic pure function of the data, correct shapes, empty-cluster keep") {
    val m1 = Similarity.pqTrain(embs, "vec_id", "embedding", dim = 64, m = 16, ksub = 8, iters = 2)
    val m2 = Similarity.pqTrain(embs, "vec_id", "embedding", dim = 64, m = 16, ksub = 8, iters = 2)
    assert(m1.m == 16 && m1.ksub == 8 && m1.dsub == 4 && m1.dim == 64)
    assert(m1.bytesPerVector == 16)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq,
      "seeded init + fixed iterations must make training deterministic")
    // every codeword is finite (empty clusters keep their previous
    // codeword rather than going NaN through a 0/0 mean)
    assert(m1.codebooks.flatten.flatten.forall(x => !x.isNaN && !x.isInfinite))
  }

  test("pqTrain at ksub=256: the full unsigned byte range trains without sign corruption") {
    // codes above 127 read back as NEGATIVE bytes; the driver-side
    // Lloyd update must decode them unsigned (regression: a signed
    // element_at cast turned codeword 129 into index -127 and crashed)
    val model = Similarity.pqTrain(embs, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 256, iters = 2)
    assert(model.ksub == 256)
    assert(model.codebooks.flatten.flatten.forall(x => !x.isNaN && !x.isInfinite))
    val codes = Similarity.pqEncode(embs, "vec_id", "embedding", model)
    val high = codes.select(explode(col("codes")).as("c")).filter(col("c") < 0).count()
    assert(high > 0, "a 500-row corpus with ksub=256 must emit codewords above 127")
  }

  test("pqTrain trips loudly when the corpus is smaller than ksub") {
    import spark.implicits._
    val tiny = Seq((1L, Array.fill(4)(0.5)), (2L, Array.fill(4)(0.25))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTrain(tiny, "id", "v", dim = 4, m = 2, ksub = 8)
    }
    assert(e.getMessage.contains("ksub"))
  }

  test("pqEncode: m tinyint codes per surviving row; zero-norm and malformed rows drop") {
    import spark.implicits._
    val model = Similarity.pqTrain(embs, "vec_id", "embedding", dim = 64, m = 16, ksub = 8)
    val withZero = embs.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((9999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val codes = Similarity.pqEncode(withZero, "vec_id", "embedding", model)
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false))
    val n = embs.count()
    assert(codes.count() == n, "zero-norm row dropped, all others encoded")
    assert(codes.filter(col("vec_id") === 9999L).isEmpty)
    assert(codes.select(size(col("codes")).as("s")).filter(col("s") =!= 16).isEmpty)
  }

  test("pqTopK re-ranked: recall@10 vs the exact ranking earns the gate on real embeddings") {
    val q = embs.filter(col("vec_id") < 50)
    val exact = Similarity.topK(embs, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(embs, q, "vec_id", "embedding", k = 10,
      dim = 64, m = 16, ksub = 32, iters = 3, shortlist = 50)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"re-ranked PQ recall@10 = $recall (want >= 0.9)")
    // output contract: exactly k rows per query, exact cosines on the kept rows
    assert(pq.size == exact.size)
  }

  test("pqTopK: zero-norm query and corpus rows pair with nothing, job completes") {
    import spark.implicits._
    val withZero = embs.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((9999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val q = withZero.filter(col("vec_id") < 3 || col("vec_id") === 9999L)
    val out = Similarity.pqTopK(withZero, q, "vec_id", "embedding", k = 5,
      dim = 64, m = 8, ksub = 16, iters = 1, shortlist = 10)
    val rows = out.collect()
    assert(rows.nonEmpty, "the zero vector must not abort the job")
    assert(!rows.exists(_.getLong(0) == 9999L), "zero-norm query ranks nothing")
    assert(!rows.exists(_.getLong(1) == 9999L), "zero-norm corpus row is never a neighbor")
  }

  test("ivfPq: full probe + corpus-wide shortlist EQUALS the exact ranking (narrowing-only proof)") {
    // pruning (nprobe) and compression (PQ codes) only ever narrow the
    // candidate set; the final ranking is exact cosine — so at
    // nprobe = nlist and shortlist >= corpus the result must equal
    // topK EXACTLY, rank for rank
    val q = embs.filter(col("vec_id") < 20)
    val exact = Similarity.topK(embs, q, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val idx = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64, nlist = 8)
    val full = idx.topK(q, "vec_id", "embedding", k = 10,
        nprobe = 8, shortlist = 1000, corpus = embs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == exact)
  }

  test("ivfPq: coded layout stores m tinyint codes per row; pruned probe earns recall") {
    val idx = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64)
    val codedField = idx.coded.schema("codes")
    assert(codedField.dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false))
    val q = embs.filter(col("vec_id") < 50)
    val exact = Similarity.topK(embs, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = idx.topK(q, "vec_id", "embedding", k = 10,
        nprobe = 12, shortlist = 200, corpus = embs)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVFPQ recall@10 = $recall (want >= 0.9 at sf0.001)")
  }

  test("ivfPq residual encoding survives the clustered regime that collapses global codes") {
    // the ANNBENCH-measured failure: tight clusters whose members
    // differ only by small noise — a global codebook resolves the
    // CENTER (recall collapsed to 0.25 at 1M), residual encoding
    // spends resolution on the within-cluster differences. 2000 rows
    // in 8 clusters, shortlist 50 << cluster size 250, so the ADC
    // ordering itself must rank within the cluster to pass.
    import spark.implicits._
    val d = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, d)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.15f * (rnd.nextFloat() * 2 - 1)))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 16)
    val exact = Similarity.topK(corpus, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (s & exact).size.toDouble / exact.size
    }
    val idx = Similarity.buildIvfPq(corpus, "vec_id", "embedding", dim = d,
      nlist = 8, ivfIters = 3, m = 16, ksub = 16, pqIters = 3)
    val residual = recallOf(idx.topK(q, "vec_id", "embedding", k = 10,
      nprobe = 2, shortlist = 50, corpus = corpus))
    // the same bit budget spent on a GLOBAL codebook over the unit
    // vectors — the design this spec guards against regressing to
    val global = recallOf(Similarity.pqTopK(corpus, q, "vec_id", "embedding", k = 10,
      dim = d, m = 16, ksub = 16, iters = 3, shortlist = 50))
    assert(residual >= 0.6,
      s"residual IVFPQ recall@10 on the clustered regime = $residual (measured 0.76; " +
        "collapse toward shortlist/clusterSize = 0.2 means residuals stopped working)")
    assert(residual >= global + 0.2,
      s"residual ($residual) must clearly beat the global codebook ($global) here — " +
        "this gap IS the reason IVFPQ encodes residuals")
  }

  test("procrustesRotation: recovers a known orthogonal matrix, output exactly orthogonal") {
    // M = 3 * R0 for an orthogonal R0 (a Givens rotation embedded in 4-d):
    // the Procrustes solution of M must be R0 itself
    val th = 0.7
    val r0 = Array(
      Array(math.cos(th), -math.sin(th), 0.0, 0.0),
      Array(math.sin(th), math.cos(th), 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.0, 1.0))
    val m0 = r0.map(_.map(_ * 3.0))
    val r = Similarity.procrustesRotation(m0)
    for (i <- 0 until 4; j <- 0 until 4)
      assert(math.abs(r(i)(j) - r0(i)(j)) < 1e-9, s"r($i)($j)")
    // rank-deficient input still yields an exactly orthogonal matrix
    val degenerate = Array.tabulate(4, 4)((i, j) => if (i == 0 && j == 0) 2.0 else 0.0)
    val rd = Similarity.procrustesRotation(degenerate)
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = (0 until 4).map(k => rd(i)(k) * rd(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RR^T($i)($j)")
    }
  }

  test("opqTrain: deterministic; rotation orthogonal; distortion <= plain PQ on correlated data") {
    import spark.implicits._
    // cross-subspace correlation — the regime OPQ exists for: an
    // anisotropic source (geometrically decaying stds) mixed by a
    // Hadamard rotation, so every coordinate correlates with every
    // other ACROSS subspace boundaries; axis-aligned subspaces quantize
    // those correlations independently and waste bits, the learned R
    // un-mixes them
    val d = 8
    val rnd = new scala.util.Random(13)
    val h: Array[Array[Double]] = { // H8 / sqrt(8), orthogonal
      def sign(i: Int, j: Int): Int = Integer.bitCount(i & j) % 2 * -2 + 1
      Array.tabulate(d, d)((i, j) => sign(i, j) / math.sqrt(d))
    }
    val rows = (0 until 1200).map { i =>
      val z = Array.tabulate(d)(j => (rnd.nextDouble() * 2 - 1) * math.pow(0.5, j))
      (i.toLong, Array.tabulate(d)(a =>
        (0 until d).map(b => h(a)(b) * z(b)).sum.toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val opq = Similarity.opqTrain(corpus, "vec_id", "embedding",
      dim = d, m = 4, ksub = 8, iters = 3, opqIters = 6)
    val opq2 = Similarity.opqTrain(corpus, "vec_id", "embedding",
      dim = d, m = 4, ksub = 8, iters = 3, opqIters = 6)
    assert(opq.rotation.isDefined)
    assert(opq.rotation.get.flatten.toSeq == opq2.rotation.get.flatten.toSeq &&
      opq.codebooks.flatten.flatten.toSeq == opq2.codebooks.flatten.flatten.toSeq,
      "opqTrain must be a pure function of the data")
    val r = opq.rotation.get
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8, s"RR^T($i)($j)")
    }
    val plain = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = d, m = 4, ksub = 8, iters = 3)
    // quantization distortion on the unit-normalized data, computed on
    // the driver over all rows (rotation-invariant comparison: OPQ's
    // reconstruction rotates back with R^T)
    val units = rows.map { case (_, v) =>
      val dv = v.map(_.toDouble)
      val n = math.sqrt(dv.map(x => x * x).sum)
      dv.map(_ / n)
    }
    def mse(model: Similarity.PqModel): Double = {
      val dsub = model.dsub
      units.map { u =>
        val x = model.rotation match {
          case Some(rot) => Array.tabulate(d)(a =>
            (0 until d).map(b => rot(a)(b) * u(b)).sum)
          case None => u
        }
        (0 until model.m).map { s =>
          model.codebooks(s).map { cw =>
            (0 until dsub).map(t => { val df = x(s * dsub + t) - cw(t); df * df }).sum
          }.min
        }.sum
      }.sum / units.size
    }
    val mseOpq = mse(opq)
    val msePlain = mse(plain)
    assert(mseOpq <= msePlain * 1.001,
      s"OPQ distortion ($mseOpq) must not exceed plain PQ ($msePlain) — " +
        "the rotation minimizes exactly this objective")
    // measured 18.5% here — in line with the 10-30% non-parametric OPQ
    // reports on SIFT/GIST (Ge et al. CVPR'13, Table 1); gate at 10%
    assert(mseOpq < msePlain * 0.9,
      s"on Hadamard-mixed anisotropic data OPQ should clearly win: " +
        s"opq=$mseOpq plain=$msePlain")
  }

  test("ivfPq+OPQ: narrowing-only proof holds and clustered recall does not regress") {
    import spark.implicits._
    val d = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, d)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.15f * (rnd.nextFloat() * 2 - 1)))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 16)
    val exact = Similarity.topK(corpus, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Similarity.buildIvfPq(corpus, "vec_id", "embedding", dim = d,
      nlist = 8, ivfIters = 3, m = 16, ksub = 16, pqIters = 3, opqIters = 5)
    assert(idx.model.rotation.isDefined)
    // full probe + corpus-wide shortlist == exact ranking, rotation or not
    val full = idx.topK(q, "vec_id", "embedding", k = 10,
      nprobe = 8, shortlist = 2000, corpus = corpus)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "narrowing-only proof must survive the OPQ rotation")
    // pruned probe on the SAME tight shortlist as the residual spec
    val got = idx.topK(q, "vec_id", "embedding", k = 10,
      nprobe = 2, shortlist = 50, corpus = corpus)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"OPQ-rotated IVFPQ clustered recall@10 = $recall — must hold the " +
        "residual spec's floor (rotation can only cut distortion)")
  }

  test("IvfPqIndex save/load round-trips the OPQ rotation; probe equality") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-opq").toFile.getAbsolutePath
    val built = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 4, ivfIters = 2, m = 16, ksub = 16, pqIters = 2, opqIters = 4)
    assert(built.model.rotation.isDefined)
    built.save(tmp)
    val loaded = Similarity.loadIvfPq(spark, tmp)
    assert(loaded.model.rotation.isDefined &&
      loaded.model.rotation.get.flatten.toSeq == built.model.rotation.get.flatten.toSeq)
    val q = embs.filter(col("vec_id") < 10)
    val want = built.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 2, shortlist = 40, corpus = embs).collect().map(_.toSeq).toSet
    val got = loaded.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 2, shortlist = 40, corpus = embs).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("IvfPqIndex save/load round-trips; probe prunes the snapshot's cell partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq").toFile.getAbsolutePath
    val built = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    built.save(tmp)
    val loaded = Similarity.loadIvfPq(spark, tmp)
    assert(loaded.unitCentroids.map(_.toSeq).toSeq == built.unitCentroids.map(_.toSeq).toSeq)
    assert(loaded.model.codebooks.flatten.flatten.toSeq ==
      built.model.codebooks.flatten.flatten.toSeq)
    val q = embs.filter(col("vec_id") < 15)
    val want = built.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 3, shortlist = 40, corpus = embs).collect().map(_.toSeq).toSet
    val got = loaded.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 3, shortlist = 40, corpus = embs).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // the probed-cells isin literal must reach the snapshot scan as a
    // STATIC partition filter (nprobe-ish cells' files read, not all)
    val plan = loaded.topK(q, "vec_id", "embedding", k = 5,
        nprobe = 3, shortlist = 40, corpus = embs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [c#") || plan.contains("PartitionFilters: [(c#"),
      s"expected a partition filter on c in:\n$plan")
  }

  test("topKStream: a multi-batch drain equals the batch probe row for row") {
    // three query files + maxFilesPerTrigger=1 forces three REAL
    // micro-batches — per-query independence must make the batching
    // invisible in the result
    val base = java.nio.file.Files.createTempDirectory("graft-annstream-spec")
      .toFile.getAbsolutePath
    val q = embs.filter(col("vec_id") < 30)
    q.repartition(3).write.parquet(s"$base/queries")
    val idx = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val qStream = spark.readStream.schema(q.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/queries")
    val streamed = idx.topKStream(qStream, "vec_id", "embedding",
      k = 5, nprobe = 3, shortlist = 40, corpus = embs, sinkDir = s"$base/sink")
    val batch = idx.topK(q, "vec_id", "embedding",
      k = 5, nprobe = 3, shortlist = 40, corpus = embs)
    val got = streamed.collect().map(_.toSeq).toSet
    val want = batch.collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty,
      s"stream drain must equal the batch probe (stream ${got.size} vs batch ${want.size})")
    // and more than one micro-batch actually ran (one offsets file per
    // batch in the checkpoint — otherwise this spec proves nothing)
    val batches = new java.io.File(s"$base/sink/ckpt/offsets")
      .listFiles().count(f => f.isFile && !f.getName.startsWith("."))
    assert(batches >= 3, s"expected >= 3 micro-batches, checkpoint shows $batches")
  }

  test("appendToIvfPq: snapshot extends without retrain; appended rows are findable") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toFile.getAbsolutePath
    val built = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    built.save(tmp)
    // exact copies of vec_id 0..9 under shifted ids: each lands in its
    // original's cell and must come back as that original's top-1
    val newV = embs.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val n = Similarity.appendToIvfPq(spark, tmp, newV, "vec_id", "embedding")
    assert(n == 10)
    val loaded = Similarity.loadIvfPq(spark, tmp)
    assert(loaded.unitCentroids.map(_.toSeq).toSeq == built.unitCentroids.map(_.toSeq).toSeq,
      "append must not retrain centroids")
    assert(loaded.model.codebooks.flatten.flatten.toSeq ==
      built.model.codebooks.flatten.flatten.toSeq, "append must not retrain codebooks")
    val merged = embs.select(col("vec_id"), col("embedding")).unionByName(newV)
    val got = loaded.topK(embs.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 1, nprobe = 4, shortlist = 20, corpus = merged)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { q =>
      assert(got.get(q).contains(q + 100000),
        s"query $q should retrieve its appended identical copy, got ${got.get(q)}")
    }
  }

  test("autoShortlist: small scans re-rank everything; shortlist<=0 dispatches to auto") {
    val idx = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 4, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val auto = idx.autoShortlist(k = 10, nprobe = 2)
    // sf0.001 embeddings (500 rows): the worst-2-cell scan is under the
    // heap ceiling, so auto = the whole scan (r11 rule: exactness is
    // affordable — re-rank everything scanned), floored at 200
    val worst2 = idx.coded.groupBy("c").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc)
      .limit(2).collect().map(_.getLong(1)).sum
    assert(auto == math.max(200L, worst2),
      s"auto must equal max(floor, whole small scan): got $auto, scan $worst2")
    val q = embs.filter(col("vec_id") < 10)
    val viaSentinel = idx.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 2, shortlist = -1, corpus = embs).collect().map(_.toSeq).toSet
    val viaExplicit = idx.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 2, shortlist = auto, corpus = embs).collect().map(_.toSeq).toSet
    assert(viaSentinel == viaExplicit && viaSentinel.nonEmpty)
  }

  test("annTopK: session-conf dispatch equals the explicit-arg calls") {
    def clear(): Unit = Seq("algo", "nlist", "nprobe", "m", "ksub", "shortlist",
      "opqIters").foreach(s => spark.conf.unset(s"spark.graft.ann.$s"))
    val q = embs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      // default = exact
      assert(rows(Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64)) ==
        rows(Similarity.topK(embs, q, "vec_id", "embedding", 5)))
      // ivfpq with every knob set, shortlist auto
      spark.conf.set("spark.graft.ann.algo", "ivfpq")
      spark.conf.set("spark.graft.ann.nlist", "4")
      spark.conf.set("spark.graft.ann.nprobe", "2")
      spark.conf.set("spark.graft.ann.m", "16")
      spark.conf.set("spark.graft.ann.ksub", "16")
      spark.conf.set("spark.graft.ann.shortlist", "auto")
      val got = rows(Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64))
      val want = rows(Similarity.buildIvfPq(embs, "vec_id", "embedding", 64,
          nlist = 4, ivfIters = 3, m = 16, ksub = 16, pqIters = 3)
        .topK(q, "vec_id", "embedding", 5, nprobe = 2, shortlist = -1, corpus = embs))
      assert(got == want && got.nonEmpty)
      spark.conf.set("spark.graft.ann.algo", "nope")
      intercept[IllegalArgumentException] {
        Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64)
      }
    } finally clear()
  }

  test("annTopK: nprobe=auto calibrates and equals the explicit calibrate+probe") {
    def clear(): Unit = Seq("algo", "nlist", "nprobe", "m", "ksub", "shortlist")
      .foreach(s => spark.conf.unset(s"spark.graft.ann.$s"))
    val q = embs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      spark.conf.set("spark.graft.ann.algo", "ivf")
      spark.conf.set("spark.graft.ann.nlist", "8")
      spark.conf.set("spark.graft.ann.nprobe", "auto")
      val got = rows(Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64))
      val idx = Similarity.buildIvf(embs, "vec_id", "embedding", 64, nlist = 8, iters = 3)
      val cal = idx.calibrateNprobe(0.95)
      val want = rows(idx.topK(q, "vec_id", "embedding", 5, cal))
      assert(got == want && got.nonEmpty)
    } finally clear()
  }

  test("pqTopK guards: shortlist < k trips loudly") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(embs, embs.limit(1), "vec_id", "embedding", k = 10,
        dim = 64, m = 16, ksub = 32, iters = 1, shortlist = 5)
    }
    assert(e.getMessage.contains("shortlist"))
  }

  test("rank shortlist engine (depth > heap ceiling) equals the heap engine at full coverage") {
    // A depth past HeapShortlistMax (65536) routes selection through the
    // spill-safe window rank instead of the bounded heap. Both engines at
    // corpus-exceeding depth + full probe must reproduce the EXACT
    // ranking (narrowing-only proof holds on either engine), hence each
    // other.
    val idx = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val q = embs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val viaHeap = rows(idx.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 8, shortlist = 65536, corpus = embs))
    val viaRank = rows(idx.topK(q, "vec_id", "embedding", k = 5,
      nprobe = 8, shortlist = 65537, corpus = embs))
    val exact = rows(Similarity.topK(embs, q, "vec_id", "embedding", k = 5))
    assert(viaRank == exact && viaHeap == exact && viaRank.nonEmpty)
    idx.unpersist()
  }

  test("autoShortlistRule: three regimes, monotone, no Int wrap at corpus-scale scans") {
    // small scan: re-rank EVERYTHING scanned (exactness is affordable)
    assert(Similarity.autoShortlistRule(1000L, k = 10, nprobe = 4) == 1000)
    assert(Similarity.autoShortlistRule(41000L, k = 10, nprobe = 1) == 41000)
    // the floor binds below it
    assert(Similarity.autoShortlistRule(100L, k = 10, nprobe = 4) == 200)
    assert(Similarity.autoShortlistRule(1000L, k = 500, nprobe = 4) == 1000)
    // mid scans: the heap ceiling holds until 1/12 exceeds it
    assert(Similarity.autoShortlistRule(200000L, k = 10, nprobe = 8) == 65536)
    assert(Similarity.autoShortlistRule(786431L, k = 10, nprobe = 8) == 65536)
    // deep scans: 1/12 of the scan on the rank engine
    assert(Similarity.autoShortlistRule(2400000L, k = 10, nprobe = 4) == 200000)
    assert(Similarity.autoShortlistRule(2560000L, k = 10, nprobe = 98) == 213333)
    // monotone across the regime boundaries
    val pts = Seq(100L, 1000L, 65536L, 65537L, 786431L, 786444L, 2400000L, 100000000L)
      .map(s => Similarity.autoShortlistRule(s, k = 10, nprobe = 8).toLong)
    assert(pts == pts.sorted, s"rule must be monotone in the scan: $pts")
    // a 26B-row worst scan used to wrap (26e9/12).toInt negative and
    // silently bind the floor; now it clamps loudly at Int.MaxValue
    assert(Similarity.autoShortlistRule(26000000000L, k = 10, nprobe = 4) == Int.MaxValue)
    // just under the wrap boundary stays exact
    assert(Similarity.autoShortlistRule(12L * Int.MaxValue - 12L, k = 10, nprobe = 4) ==
      Int.MaxValue - 1)
  }

  test("buildIvf trainPointsPerCentroid=0 (auto) trains FULL on small corpora — centroids identical") {
    // autoTrainTarget(n, nlist) = min(n, max(nlist*256, 1.25M)): every
    // corpus at or under 1.25M rows trains unsampled, so auto must be
    // bit-identical to an explicit unsampled budget here.
    assert(Similarity.autoTrainTarget(6000L, 8) == 6000L)
    assert(Similarity.autoTrainTarget(10000000L, 790) == 1250000L)
    assert(Similarity.autoTrainTarget(10000000L, 8192) == 8192L * 256L)
    val auto = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, iters = 2, trainPointsPerCentroid = 0)
    val full = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, iters = 2, trainPointsPerCentroid = Int.MaxValue / 8)
    assert(auto.centroids.map(_.toSeq).toSeq == full.centroids.map(_.toSeq).toSeq)
  }

  test("IvfPqIndex.calibrateNprobe: calibrated width earns its target on clustered data") {
    import spark.implicits._
    val d = 16
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8, d)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.15f * (rnd.nextFloat() * 2 - 1)))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfPq(corpus, "vec_id", "embedding", dim = d,
      nlist = 8, ivfIters = 3, m = 8, ksub = 16, pqIters = 3)
    val cal = idx.calibrateNprobe(corpus, "vec_id", "embedding",
      targetCellRecall = 0.95, sampleQueries = 16, neighborsPerQuery = 5)
    assert(cal >= 1 && cal <= 8)
    assert(cal <= 3, s"8 well-separated clusters over 8 cells should calibrate narrow, got $cal")
    val q = corpus.filter(col("vec_id") < 16)
    val exact = Similarity.topK(corpus, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val probed = idx.topK(q, "vec_id", "embedding", k = 5, nprobe = cal,
        shortlist = 2000, corpus = corpus)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val recall = probed.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"calibrated nprobe=$cal under-delivers: recall $recall")
    idx.unpersist()
  }

  test("autoNlist + buildIvf nlist=0: ~sqrt(n)/4 cells, floor 16, cap 65536; conf `auto` dispatches") {
    // the sizing rule itself
    assert(Similarity.autoNlist(500L) == 16, "floor binds on tiny corpora")
    assert(Similarity.autoNlist(1000000L) == 250)
    assert(Similarity.autoNlist(10000000L) == 790)
    assert(Similarity.autoNlist(100000000000L) == 65536, "cap binds at extreme n")
    assert(Similarity.autoNlist(0L) == 16)
    // buildIvf's 0 sentinel resolves from the well-formed count
    val auto = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
      nlist = 0, iters = 2)
    assert(auto.centroids.length == 16,
      s"sf0.001 embeddings (500 rows) should auto-size to 16 cells, got ${auto.centroids.length}")
    // negative nlist trips loudly
    intercept[IllegalArgumentException] {
      Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64, nlist = -1)
    }
    // conf surface: nlist=auto == explicit auto-sized build, full width == exact
    def clear(): Unit = Seq("algo", "nlist", "nprobe")
      .foreach(s => spark.conf.unset(s"spark.graft.ann.$s"))
    val q = embs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      spark.conf.set("spark.graft.ann.algo", "ivf")
      spark.conf.set("spark.graft.ann.nlist", "auto")
      spark.conf.set("spark.graft.ann.nprobe", "16")
      val got = rows(Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64))
      assert(got == rows(auto.topK(q, "vec_id", "embedding", 5, 16)) && got.nonEmpty)
      assert(got == rows(Similarity.topK(embs, q, "vec_id", "embedding", 5)),
        "full-width probe of the auto-sized index must equal exact")
    } finally clear()
  }

  test("mini-batch early stop: trainStopShift/trainMinIters govern iterations, deterministically") {
    import spark.implicits._
    // same corpus shape as the mini-batch determinism gate: cap =
    // max(4*256, 64) = 1024 < 3000 rows -> mini-batch engages
    val corpus = (0L until 3000L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    def build() = Similarity.buildIvf(corpus, "vec_id", "embedding", dim = 8,
      nlist = 4, iters = 2, trainPointsPerCentroid = 0)
    def cents(i: Similarity.IvfIndex) = i.centroids.map(_.toSeq).toSeq
    val keys = Seq("autoTrainFloor", "trainStopShift", "trainMinIters",
      "trainStopPlateau")
    try {
      spark.conf.set("spark.graft.ann.autoTrainFloor", "64")
      // plateau stop off: this test pins the SHIFT criterion
      spark.conf.set("spark.graft.ann.trainStopPlateau", "0")
      // a huge threshold converges at the minimum-iterations floor ...
      spark.conf.set("spark.graft.ann.trainStopShift", "1e9")
      spark.conf.set("spark.graft.ann.trainMinIters", "1")
      val one = build()
      // ... and the floor is honored: more minimum iterations = more
      // accumulated batches = different centroids
      spark.conf.set("spark.graft.ann.trainMinIters", "6")
      val six = build()
      assert(cents(one) != cents(six),
        "trainMinIters must gate when the (always-met) threshold may stop training")
      // a zero threshold never stops early: all 10 sampled iterations
      spark.conf.set("spark.graft.ann.trainStopShift", "0")
      spark.conf.set("spark.graft.ann.trainMinIters", "1")
      val never = build()
      assert(cents(six) != cents(never),
        "stopShift=0 must run past 6 iterations (the r11 fixed-10 behavior)")
      assert(cents(never) == cents(build()), "early-stop logic must stay deterministic")
      // whatever the trainer did, the LAYOUT contract holds: full-width
      // probe == exact, even on the least-trained index
      val q = corpus.filter(col("vec_id") < 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      assert(rows(one.topK(q, "vec_id", "embedding", 3, 4)) ==
        rows(Similarity.topK(corpus, q, "vec_id", "embedding", 3)))
    } finally keys.foreach(k => spark.conf.unset(s"spark.graft.ann.$k"))
  }

  test("calibration-width plateau early stop: fires on a stale width, deterministically") {
    import spark.implicits._
    // same mini-batch corpus shape as the shift test; shift stop
    // disabled so any early exit is the PLATEAU criterion's
    val corpus = (0L until 3000L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    def build() = Similarity.buildIvf(corpus, "vec_id", "embedding", dim = 8,
      nlist = 4, iters = 2, trainPointsPerCentroid = 0)
    def cents(i: Similarity.IvfIndex) = i.centroids.map(_.toSeq).toSeq
    val keys = Seq("autoTrainFloor", "trainStopShift", "trainMinIters",
      "trainStopPlateau")
    try {
      spark.conf.set("spark.graft.ann.autoTrainFloor", "64")
      spark.conf.set("spark.graft.ann.trainStopShift", "0")
      spark.conf.set("spark.graft.ann.trainMinIters", "1")
      // patience 1: stop at the first iteration whose estimated
      // calibration width fails to improve on the best seen — at
      // nlist=4 the width floors immediately, so this stops well
      // before the sampled path's 10 iterations
      spark.conf.set("spark.graft.ann.trainStopPlateau", "1")
      val early = build()
      spark.conf.set("spark.graft.ann.trainStopPlateau", "0")
      val full = build()
      assert(cents(early) != cents(full),
        "a stale width at patience 1 must stop training before 10 iterations")
      spark.conf.set("spark.graft.ann.trainStopPlateau", "1")
      assert(cents(early) == cents(build()),
        "plateau-stop logic must stay deterministic")
      // layout contract unaffected by where training stopped
      val q = corpus.filter(col("vec_id") < 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      assert(rows(early.topK(q, "vec_id", "embedding", 3, 4)) ==
        rows(Similarity.topK(corpus, q, "vec_id", "embedding", 3)))
    } finally keys.foreach(k => spark.conf.unset(s"spark.graft.ann.$k"))
  }

  test("calibrateNprobe memo: one scan per estimator key on both index kinds") {
    val ivf = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
      nlist = 8, iters = 2)
    assert(ivf.calibrationScans == 0)
    val a = ivf.calibrateNprobe(0.9, sampleQueries = 8)
    val b = ivf.calibrateNprobe(0.9, sampleQueries = 8)
    assert(a == b && ivf.calibrationScans == 1,
      s"second identical call must be a memo hit (scans=${ivf.calibrationScans})")
    ivf.calibrateNprobe(0.5, sampleQueries = 8)
    assert(ivf.calibrationScans == 2, "a different target is a different key")
    val pq = Similarity.buildIvfPq(embs, "vec_id", "embedding", dim = 64,
      nlist = 4, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val c = pq.calibrateNprobe(embs, "vec_id", "embedding", 0.9, sampleQueries = 8)
    val d = pq.calibrateNprobe(embs, "vec_id", "embedding", 0.9, sampleQueries = 8)
    assert(c == d && pq.calibrationScans == 1)
    pq.unpersist()
  }

  test("annTopK: shortlist=auto with algo=pq/bq resolves to the per-algo default, not k") {
    def clear(): Unit = Seq("algo", "m", "ksub", "shortlist")
      .foreach(s => spark.conf.unset(s"spark.graft.ann.$s"))
    val q = embs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      spark.conf.set("spark.graft.ann.algo", "pq")
      spark.conf.set("spark.graft.ann.m", "16")
      spark.conf.set("spark.graft.ann.ksub", "32")
      spark.conf.set("spark.graft.ann.shortlist", "auto")
      val gotPq = rows(Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64))
      val wantPq = rows(Similarity.pqTopK(embs, q, "vec_id", "embedding", k = 5,
        dim = 64, m = 16, ksub = 32, iters = 3, shortlist = 200))
      assert(gotPq == wantPq && gotPq.nonEmpty)
      spark.conf.set("spark.graft.ann.algo", "bq")
      val gotBq = rows(Similarity.annTopK(embs, q, "vec_id", "embedding", 5, 64))
      val wantBq = rows(Similarity.bqTopK(embs, q, "vec_id", "embedding", k = 5,
        dim = 64, shortlist = 400))
      assert(gotBq == wantBq && gotBq.nonEmpty)
    } finally clear()
  }

  test("cache-fed calibration == corpus-fed calibration (same pool, same width)") {
    // the build-path estimator pool (the retained unitized trainer
    // cache) holds exactly the rows the corpus-path pool re-derives, so
    // the calibrated width must be identical — this is what lets
    // annBuildIvfPq skip the two interpreted corpus scans
    val (idx, cached) = Similarity.buildIvfPqCached(embs, "vec_id", "embedding",
      dim = 64, nlist = 4, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val viaCache =
      try idx.calibrateNprobeWithPool(
        cached.filter(col("_wf")).select(col("id"), col("v"), lit(1.0).as("vn")),
        0.9, sampleQueries = 8)
      finally cached.unpersist(blocking = false)
    assert(idx.calibrationScans == 1)
    val idx2 = Similarity.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nlist = 4, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    val viaCorpus = idx2.calibrateNprobe(embs, "vec_id", "embedding",
      0.9, sampleQueries = 8)
    assert(viaCache == viaCorpus,
      s"cache-fed width $viaCache != corpus-fed width $viaCorpus")
    idx.unpersist(); idx2.unpersist()
  }

  test("two-level assignment: codegen parity with flat under complete lists") {
    import spark.implicits._
    // complete member lists make the hierarchy a no-op — over a real
    // DataFrame so the CODEGEN path runs (the property suite covers the
    // interpreted eval); float input + a wrong-length and a null-element
    // row exercise the kernel contracts in generated code
    val cents = Array.tabulate(8)(c =>
      Array.tabulate(4)(j => math.sin(c * 1.7 + j * 0.9)))
    val (supers, members) = Similarity.superStructure(cents, spill = 8)
    assert(members.forall(_.length == 8), "spill >= nsuper -> complete lists")
    val rows = (0L until 500L).map { i =>
      (i, Array.tabulate(4)(j => math.cos(i * 0.31 + j * 1.1).toFloat))
    } ++ Seq(
      (500L, Array(1.0f, 2.0f)), // wrong length -> null
      (501L, null.asInstanceOf[Array[Float]]))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
        graft.functions.HashFunctions.nearestCentroidTwoLevel(
          col("v"), supers, members, cents).as("c"),
        graft.functions.HashFunctions.nearestCentroid(col("v"), cents).as("f"))
      .collect()
    got.foreach { r =>
      val two = if (r.isNullAt(1)) null else r.getInt(1)
      val flat = if (r.isNullAt(2)) null else r.getInt(2)
      assert(two == flat, s"row ${r.getLong(0)}: two-level $two != flat $flat")
    }
    assert(got.count(_.isNullAt(1)) == 2, "wrong-length and null rows -> null")
  }

  test("two-level dispatch: verified layout, flat fallback, rule travels with snapshots") {
    // shrink the threshold so the 8-cell build is a two-level CANDIDATE
    // (production default 256). The layout only KEEPS the hierarchical
    // kernel when the measured disagreement vs the flat exact argmin is
    // under twoLevelMaxDisagree — measured at 10M: clustered 0.00%
    // (kept), uniform 41.8% (flat fallback, else the calibrated width
    // explodes c1 -> c109). Force both outcomes deterministically here.
    val keys = Seq("twoLevelAssignMin", "twoLevelSpill", "twoLevelMaxDisagree")
    try {
      spark.conf.set("spark.graft.ann.twoLevelAssignMin", "4")
      spark.conf.set("spark.graft.ann.twoLevelSpill", "2")
      // 1.0 = any disagreement tolerated -> the candidate is always kept
      spark.conf.set("spark.graft.ann.twoLevelMaxDisagree", "1.0")
      val idx = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
        nlist = 8, iters = 2)
      assert(idx.assignTwoLevel, "candidate + tolerant threshold -> two-level layout")
      val q = embs.filter(col("vec_id") < 10)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      // the LAYOUT invariant: a probe of every cell sees every row, so
      // full width == exact even under the approximate assignment
      assert(rows(idx.topK(q, "vec_id", "embedding", 5, 8)) ==
        rows(Similarity.topK(embs, q, "vec_id", "embedding", 5)),
        "full-width probe over a two-level layout must equal exact")
      // calibration runs the same assignment rule on its sample and
      // returns a usable width
      val np = idx.calibrateNprobe(0.9, sampleQueries = 8)
      assert(np >= 1 && np <= 8)
      // the rule travels with the snapshot: a reloaded index appends and
      // calibrates with the layout's own kernel
      val dir = java.nio.file.Files.createTempDirectory("ivf-2l-").toString
      idx.save(dir)
      assert(idx.assignSpill == 2, "build must pin the conf spill it trained with")
      // reload under a DIFFERENT live spill conf: the persisted rule
      // wins (ADVICE r13 — member structure is (centroids, spill))
      spark.conf.set("spark.graft.ann.twoLevelSpill", "3")
      val reloaded = Similarity.loadIvf(spark, dir)
      assert(reloaded.assignTwoLevel, "two-level rule must survive save/load")
      assert(reloaded.assignSpill == 2,
        "the spill is part of the pinned rule — live conf must not win")
      spark.conf.set("spark.graft.ann.twoLevelSpill", "2")
      // negative threshold = kill switch: verification always falls back
      spark.conf.set("spark.graft.ann.twoLevelMaxDisagree", "-1")
      val flat = Similarity.buildIvf(embs, "vec_id", "embedding", dim = 64,
        nlist = 8, iters = 2)
      assert(!flat.assignTwoLevel, "negative threshold -> flat layout fallback")
      assert(rows(flat.topK(q, "vec_id", "embedding", 5, 8)) ==
        rows(Similarity.topK(embs, q, "vec_id", "embedding", 5)))
      val dir2 = java.nio.file.Files.createTempDirectory("ivf-flat-").toString
      flat.save(dir2)
      assert(!Similarity.loadIvf(spark, dir2).assignTwoLevel)
    } finally keys.foreach(k => spark.conf.unset(s"spark.graft.ann.$k"))
  }
}
