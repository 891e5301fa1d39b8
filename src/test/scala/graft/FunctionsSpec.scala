package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}
import graft.multimodal.Multimodal

/** Unit tests for the codegen'd vector expressions, text functions, and
  * multimodal plumbing. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("DotProduct / SquaredNorm match hand computation (eval + codegen paths)") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(0.0, 0.0))).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("d"),
      VectorFunctions.squaredNorm(col("a")).as("n")).collect()
    assert(rows(0).getDouble(0) == 32.0 && rows(0).getDouble(1) == 14.0)
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
    // null propagation
    val nulls = Seq((Option.empty[Array[Double]], Option(Array(1.0)))).toDF("a", "b")
    assert(nulls.select(VectorFunctions.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("SortedIntersectCount: two-pointer merge over sorted long arrays") {
    import spark.implicits._
    import graft.functions.ArrayFunctions.sortedIntersectCount
    val df = Seq(
      (Array(1L, 3L, 5L, 7L), Array(3L, 4L, 5L, 9L)), // {3,5} -> 2
      (Array(1L, 2L), Array(3L, 4L)),                 // disjoint -> 0
      (Array.empty[Long], Array(1L))).toDF("a", "b")  // empty -> 0
    val got = df.select(sortedIntersectCount(col("a"), col("b"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 0L, 0L))
  }

  test("TopElementCount: max multiplicity, empty -> null, null element -> null") {
    import spark.implicits._
    import graft.functions.ArrayFunctions.topElementCount
    val df = Seq(
      Seq("a", "b", "a", "c", "a", "b"), // a x3
      Seq("x"),                          // single -> 1
      Seq.empty[String])                 // empty -> null
      .toDF("t")
    val got = df.select(topElementCount(col("t"))).collect()
    assert(got(0).getLong(0) == 3L && got(1).getLong(0) == 1L && got(2).isNullAt(0))
    val withNull = Seq(Seq[String]("a", null, "a")).toDF("t")
    assert(withNull.select(topElementCount(col("t"))).head().isNullAt(0))
    // interpreted path agrees
    val conf = spark.conf
    val oldWs = conf.get("spark.sql.codegen.wholeStage")
    val oldFm = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val i = df.select(topElementCount(col("t"))).collect()
      assert(i(0).getLong(0) == 3L && i(1).getLong(0) == 1L && i(2).isNullAt(0))
    } finally {
      conf.set("spark.sql.codegen.wholeStage", oldWs)
      conf.set("spark.sql.codegen.factoryMode", oldFm)
    }
  }

  test("TopElementCount agrees with brute-force multiplicity on random arrays") {
    import spark.implicits._
    import graft.functions.ArrayFunctions.topElementCount
    val rnd = new scala.util.Random(11)
    val cases = (0 until 200).map { _ =>
      Seq.fill(rnd.nextInt(40) + 1)(s"t${rnd.nextInt(8)}")
    }
    val got = cases.toDF("t")
      .select(topElementCount(col("t"))).collect().map(_.getLong(0))
    val want = cases.map(c => c.groupBy(identity).values.map(_.size).max.toLong)
    assert(got.toSeq == want)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      graft.operators.Similarity.cosine(col("a"), col("b")).as("same"),
      graft.operators.Similarity.cosine(col("a"), col("c")).as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("word shingles: sliding n-grams, short docs yield empty") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "  a   b c  ").toDF("text")
    val got = df
      .select(TextFunctions.tokens(col("text")).as("t"))
      .select(TextFunctions.wordShinglesFromTokens(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq())
    assert(got(2) == Seq("a b c"))
  }

  test("langId picks the dominant stopword language, und when none") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog is in the house",
      "le chat et la maison est pour un chien",
      "xyzzy plugh").toDF("text")
    val got = df.select(TextFunctions.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "fr", "und"))
  }

  test("fingerprint is order-insensitive and duplicate-insensitive") {
    import spark.implicits._
    val df = Seq("b a c", "c b a a", "a b").toDF("text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("multimodal frame sampling: one row per sampled frame, deterministic") {
    import spark.implicits._
    val docs = Seq((7L, "x" * 130)).toDF("doc_id", "text") // 130 bytes -> 11s fake duration
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val frames = Multimodal.frameSamplePlan(media, everyNthSec = 5).collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 5, 10))
    assert(frames.forall(_.getInt(2) == 11))
    assert(frames.head.getString(3) == "frame_7_0")
  }

  test("multimodal decode: deterministic stub metadata through mapPartitions") {
    import spark.implicits._
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.schema("content").dataType.typeName == "binary")
    val d = Multimodal.decode(media).collect().head
    assert(d.doc_id == 1L && d.n_bytes == 11L)
    assert(d.width == 64 + 11 % 577 && d.height == 64 + ('h'.toInt * 7) % 577)
    assert(d.format == "webp") // 11 % 3 == 2
    val resized = Multimodal.resizePlan(Multimodal.decode(media), 256).collect().head
    assert(resized.getAs[Int]("target_w") == math.min(256, d.width))
  }

  test("multimodal featureExtract: normalized byte-histogram stub, empty payload -> zeros") {
    import spark.implicits._
    val docs = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val rows = Multimodal.featureExtract(media, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // 'hello' bytes mod 8: h=0, e=5, l=4, l=4, o=7 -> [1,0,0,0,2,1,0,1]/5
    assert(rows(1L) == Seq(1, 0, 0, 0, 2, 1, 0, 1).map(c => (c.toDouble / 5).toFloat))
    assert(rows(2L) == Seq.fill(8)(0.0f), "empty payload must yield a zero vector")
    assert(rows(1L).map(_.toDouble).sum > 0.999 && rows(1L).map(_.toDouble).sum < 1.001)
  }

  test("MinHashSignature kernel is bit-identical to the min(xxhash64(lit(i), s)) tree") {
    import spark.implicits._
    val numPerm = 8
    val df = Seq(
      (1L, Array(42L, -7L, 0L, Long.MaxValue)),
      (2L, Array(3L))).toDF("id", "sh")
    // reference: the expression tree the kernel replaces
    val ref = df.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("id").agg(
        array((0 until numPerm).map(i => min(xxhash64(lit(i), col("s")))): _*).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = df.select(col("id"),
        graft.functions.HashFunctions.minhashSignature(col("sh"), numPerm).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == ref)
    // empty set -> null signature
    val empty = Seq((9L, Array.empty[Long])).toDF("id", "sh")
    assert(empty.select(graft.functions.HashFunctions.minhashSignature(col("sh"), numPerm))
      .head().isNullAt(0))
  }

  test("SimHash64 kernel is bit-identical to the per-bit vote aggregate tree") {
    import spark.implicits._
    val df = Seq(
      (1L, Array("alpha", "beta", "gamma")),
      (2L, Array("x"))).toDF("id", "toks")
    val ref = df.select(col("id"), explode(col("toks")).as("t"))
      .withColumn("h", xxhash64(col("t")))
      .groupBy("id").agg(
        (0 until 64).map(k =>
          sum(when(shiftright(col("h"), k).bitwiseAND(lit(1L)) === lit(1L), 1L).otherwise(-1L))
            .as(s"b$k")).head,
        (1 until 64).map(k =>
          sum(when(shiftright(col("h"), k).bitwiseAND(lit(1L)) === lit(1L), 1L).otherwise(-1L))
            .as(s"b$k")): _*)
      .select(col("id"),
        (0 until 64).map(k =>
          when(col(s"b$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L))).reduce(_ + _).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = df.select(col("id"), graft.functions.HashFunctions.simhash64(col("toks")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    val empty = Seq((9L, Array.empty[String])).toDF("id", "toks")
    assert(empty.select(graft.functions.HashFunctions.simhash64(col("toks"))).head().isNullAt(0))
  }

  test("HyperplaneSignatures kernel matches per-bit sign-of-dot computation") {
    import spark.implicits._
    val planes = Array(
      Array(Array(1.0, 0.0), Array(0.0, -1.0)),  // table 0: bit0 = x>=0, bit1 = y<=0
      Array(Array(-1.0, 1.0), Array(1.0, 1.0)))  // table 1
    val df = Seq((1L, Array(2.0, 3.0)), (2L, Array(-1.0, -2.0))).toDF("id", "v")
    val got = df.select(col("id"),
        graft.functions.HashFunctions.hyperplaneSignatures(col("v"), planes).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // hand computation: sig bit k set iff dot(v, planes(t)(k)) >= 0
    def sig(v: Array[Double], t: Array[Array[Double]]): Long =
      t.zipWithIndex.map { case (p, k) =>
        if (p.zip(v).map { case (a, b) => a * b }.sum >= 0) 1L << k else 0L
      }.sum
    assert(got(1L) == Seq(sig(Array(2.0, 3.0), planes(0)), sig(Array(2.0, 3.0), planes(1))))
    assert(got(2L) == Seq(sig(Array(-1.0, -2.0), planes(0)), sig(Array(-1.0, -2.0), planes(1))))
  }

  test("CentroidDistances kernel: exact squared L2 to each centroid, argmin ties -> lower index") {
    import spark.implicits._
    val cents = Array(Array(0.0, 0.0), Array(3.0, 4.0), Array(0.0, 0.0))
    val df = Seq((1L, Array(3.0, 4.0)), (2L, Array(0.0, 0.0))).toDF("id", "v")
    val got = df.select(col("id"),
        graft.functions.HashFunctions.centroidDistances(col("v"), cents).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L) == Seq(25.0, 0.0, 25.0))
    assert(got(2L) == Seq(0.0, 25.0, 0.0))
    // duplicate centroids: array_position(min) picks the FIRST (lower index)
    val arg = df.select(col("id"),
      (array_position(
        graft.functions.HashFunctions.centroidDistances(col("v"), cents),
        array_min(graft.functions.HashFunctions.centroidDistances(col("v"), cents))) - lit(1L))
        .cast("int").as("c")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(arg(2L) == 0)
    assert(arg(1L) == 1)
  }

  test("NearestCentroid kernel == array_position(argmin) form on every edge shape") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val cents = Array.fill(7, 4)(rnd.nextDouble() * 2 - 1) ++
      Array(Array(0.25, 0.25, 0.25, 0.25), Array(0.25, 0.25, 0.25, 0.25)) // exact duplicate pair
    val rows: Seq[(Long, Array[java.lang.Double])] =
      (0L until 500L).map(i => i -> Array.fill(4)(
        java.lang.Double.valueOf(rnd.nextDouble() * 2 - 1))) ++ Seq(
        (900L, Array[java.lang.Double](0.25, 0.25, 0.25, 0.25)), // ties the duplicate pair -> lower index
        (901L, Array[java.lang.Double](1.0, 2.0, 3.0)),          // wrong length -> null
        (902L, Array[java.lang.Double](1.0, null, 3.0, 4.0)),    // null element -> null
        (903L, Array[java.lang.Double](Double.NaN, 0.0, 0.0, 0.0))) // NaN coordinate
    val df = rows.toDF("id", "v")
    val d = graft.functions.HashFunctions.centroidDistances(col("v"), cents)
    val viaArr = df.select(col("id"),
        (array_position(d, array_min(d)) - lit(1L)).cast("int").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    val viaKernel = df.select(col("id"),
        graft.functions.HashFunctions.nearestCentroid(col("v"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(viaKernel == viaArr,
      s"argmin kernel must equal the materializing form: ${
        viaKernel.toSeq.diff(viaArr.toSeq).take(5)}")
    assert(viaKernel(900L) == 7, "exact tie must break to the lower centroid index")
    assert(viaKernel(901L) == null && viaKernel(902L) == null)
    // float inputs too
    val fdf = (0L until 100L).map(i => i -> Array.fill(4)(rnd.nextFloat() * 2 - 1))
      .toDF("id", "v")
    val fd = graft.functions.HashFunctions.centroidDistances(col("v"), cents)
    assert(fdf.select(graft.functions.HashFunctions.nearestCentroid(col("v"), cents))
        .collect().map(_.getInt(0)).toSeq ==
      fdf.select((array_position(fd, array_min(fd)) - lit(1L)).cast("int"))
        .collect().map(_.getInt(0)).toSeq)
  }

  test("float inputs produce bit-identical results to their cast-to-double form") {
    import spark.implicits._
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4.0f, -1.75f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.9f, 0.8f, 0.7f))).toDF("a", "b")
    val planes = Array(Array(Array(0.3, -0.7, 0.2), Array(-0.1, 0.5, 0.9)))
    val cents = Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))
    val native = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("d"),
      VectorFunctions.squaredNorm(col("a")).as("n"),
      graft.functions.HashFunctions.hyperplaneSignatures(col("a"), planes).as("hs"),
      graft.functions.HashFunctions.centroidDistances(col("a"), cents).as("cd"))
      .collect().map(_.toSeq)
    val casted = df.select(
      VectorFunctions.dot(col("a").cast("array<double>"), col("b").cast("array<double>")).as("d"),
      VectorFunctions.squaredNorm(col("a").cast("array<double>")).as("n"),
      graft.functions.HashFunctions.hyperplaneSignatures(
        col("a").cast("array<double>"), planes).as("hs"),
      graft.functions.HashFunctions.centroidDistances(
        col("a").cast("array<double>"), cents).as("cd"))
      .collect().map(_.toSeq)
    assert(native.toSeq == casted.toSeq)
  }

  test("null ELEMENTS null out kernels instead of silently reading 0/garbage") {
    import spark.implicits._
    val df = Seq((Array[java.lang.Double](1.0, null, 3.0), Array[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("d"),
      VectorFunctions.squaredNorm(col("a")).as("n"),
      graft.functions.HashFunctions.centroidDistances(
        col("a"), Array(Array(0.0, 0.0, 0.0))).as("cd"),
      graft.functions.HashFunctions.hyperplaneSignatures(
        col("a"), Array(Array(Array(1.0, 1.0, 1.0)))).as("hs")).head()
    assert((0 until 4).forall(r.isNullAt), s"expected all null, got $r")
    // the clean side still evaluates
    assert(!df.select(VectorFunctions.squaredNorm(col("b"))).head().isNullAt(0))
  }

  test("dot: integral arrays read natively; length mismatch is null, not truncated") {
    import spark.implicits._
    val ints = Seq((Array(1, 2, 3), Array(4L, 5L, 6L))).toDF("a", "b")
    assert(ints.select(VectorFunctions.dot(col("a"), col("b"))).head().getDouble(0) == 32.0)
    assert(ints.select(VectorFunctions.squaredNorm(col("a"))).head().getDouble(0) == 14.0)
    val ragged = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(ragged.select(VectorFunctions.dot(col("a"), col("b"))).head().isNullAt(0),
      "ragged dot must be null, not a truncated sum")
  }

  test("length-mismatched vectors get null signatures/distances, not truncated math") {
    import spark.implicits._
    val planes = Array(Array(Array(1.0, 1.0, 1.0)))
    val cents = Array(Array(0.0, 0.0, 0.0))
    val df = Seq(Array(1.0, 2.0), Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0, 4.0)).toDF("v")
    val rows = df.select(
      graft.functions.HashFunctions.hyperplaneSignatures(col("v"), planes).as("hs"),
      graft.functions.HashFunctions.centroidDistances(col("v"), cents).as("cd")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1), "short vector must null out")
    assert(!rows(1).isNullAt(0) && !rows(1).isNullAt(1), "exact-dim vector must evaluate")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1), "long vector must null out")
  }

  test("redactPii replaces each pattern class and piiCounts audits the original") {
    import spark.implicits._
    val df = Seq(
      "mail a.b+c@sub.example.org and d@e.io, ip 10.0.0.1, ssn 123-45-6789, tel +14155550100.",
      "no pii here, just words and the number 42",
      "edge: 999.999.999.999 is still dotted-quad shaped; 1.2.3.4.5 has a quad prefix"
    ).toDF("text")
    val got = df.select(
      (Seq(TextFunctions.redactPii(col("text")).as("r")) ++
        TextFunctions.piiCounts(col("text")).map { case (n, c) => c.as(n) }): _*)
      .collect()
    assert(got(0).getString(0) ==
      "mail <EMAIL> and <EMAIL>, ip <IP>, ssn <ID>, tel <PHONE>.")
    assert(Seq(1, 2, 3, 4).map(got(0).getInt) == Seq(2, 1, 1, 1))
    assert(got(1).getString(0) == "no pii here, just words and the number 42")
    assert(Seq(1, 2, 3, 4).map(got(1).getInt) == Seq(0, 0, 0, 0))
    // the pattern is shape-based (no 0-255 octet check) by design, and
    // "1.2.3.4.5" — \b holds at the '.' after the 4th octet, so the quad
    // prefix redacts; both engines agree because the regexes are identical
    assert(got(2).getString(0) ==
      "edge: <IP> is still dotted-quad shaped; <IP>.5 has a quad prefix")
  }

  test("redaction order prevents token re-matching across classes") {
    import spark.implicits._
    // an IP's digits must not resurface as a phone match after
    // redaction, and an email containing a dotted quad in its local
    // part redacts as ONE email, not email-then-ip
    val df = Seq("ip+1.2.3.4@x.yz then 5.6.7.8").toDF("text")
    val got = df.select(TextFunctions.redactPii(col("text"))).head().getString(0)
    assert(got == "<EMAIL> then <IP>")
  }

  test("ByteEntropy: exact closed-form values, reference parity, empty/null, SQL") {
    import spark.implicits._
    import graft.functions.EntropyFunctions.byteEntropy
    // power-of-two uniform distributions have exact binary entropies
    val df = Seq(Option("aaaa"), Option("abab"), Option("abcd"),
      Option(""), Option.empty[String]).toDF("t")
    val got = df.select(byteEntropy(col("t"))).collect()
    assert(got(0).getDouble(0) == 0.0 && got(1).getDouble(0) == 1.0 &&
      got(2).getDouble(0) == 2.0)
    assert(got(3).isNullAt(0), "empty string has no distribution")
    assert(got(4).isNullAt(0), "null propagates")
    // codegen path == interpreted eval == independent reference fold
    def ref(s: String): Double = {
      val bs = s.getBytes("UTF-8")
      var h = 0.0
      // ascending byte order, matching the kernel's determinism contract
      (0 until 256).foreach { b =>
        val c = bs.count(x => (x & 0xff) == b)
        if (c > 0) { val p = c.toDouble / bs.length; h -= p * math.log(p) }
      }
      h / math.log(2.0)
    }
    val sample = "the quick brown fox 0123 jumps!! over the lazy dog"
    val viaDf = Seq(sample).toDF("t").select(byteEntropy(col("t"))).head().getDouble(0)
    val viaEval = graft.functions.ByteEntropy(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(sample)))
      .eval(null).asInstanceOf[Double]
    assert(viaDf == ref(sample) && viaEval == ref(sample))
    // SQL surface
    graft.operators.GraftFunctions.register(spark)
    assert(spark.sql("SELECT byte_entropy('abcd') AS e").head().getDouble(0) == 2.0)
  }

  test("every custom kernel COMPILES under CODEGEN_ONLY (no silent interpreter fallback)") {
    // The default FALLBACK factory mode hides Janino compile failures:
    // the expression silently de-optimizes to nullSafeEval and every
    // value-parity spec still passes (TopElementCount shipped exactly
    // this way — generified HashMap, which javac accepts and Janino
    // rejects). CODEGEN_ONLY turns a compile failure into a hard error,
    // so this test is the compile gate for ALL custom scalar kernels.
    import spark.implicits._
    import graft.functions._
    val conf = spark.conf
    val oldWs = conf.get("spark.sql.codegen.wholeStage")
    val oldFm = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val vec = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
      assert(vec.select(VectorFunctions.dot(col("a"), col("b"))).head().getDouble(0) == 32.0)
      assert(vec.select(VectorFunctions.squaredNorm(col("a"))).head().getDouble(0) == 14.0)
      assert(vec.select(VectorFunctions.matrixProject(col("a"),
        Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 1.0)), Array(0.0, 0.5)))
        .head().getSeq[Double](0) == Seq(1.0, 4.5))
      val toks = Seq(Seq("a", "b", "a")).toDF("t")
      assert(toks.select(ArrayFunctions.topElementCount(col("t"))).head().getLong(0) == 2L)
      assert(toks.select(HashFunctions.simhash64(col("t"))).head().getLong(0) != 0L)
      val longs = Seq((Array(1L, 3L, 5L), Array(3L, 5L, 7L))).toDF("a", "b")
      assert(longs.select(ArrayFunctions.sortedIntersectCount(col("a"), col("b")))
        .head().getLong(0) == 2L)
      assert(longs.select(HashFunctions.minhashSignature(col("a"), 8))
        .head().getSeq[Long](0).size == 8)
      assert(longs.select(LayoutFunctions.interleaveBits(col("a"), 3)).head().getLong(0) >= 0L)
      assert(vec.select(HashFunctions.hyperplaneSignatures(col("a"),
        Array(Array(Array(1.0, -1.0, 0.0), Array(0.0, 1.0, -1.0)))))
        .head().getSeq[Long](0).size == 1)
      assert(vec.select(HashFunctions.centroidDistances(col("a"),
        Array(Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0))))
        .head().getSeq[Double](0)(1) == 0.0)
      val fvec = Seq(Array(0.5f, -1.0f)).toDF("v")
      val q8 = fvec.select(QuantFunctions.quantizeInt8(col("v")).as("q"))
      assert(q8.select(QuantFunctions.dequantizeInt8(col("q"))).head().get(0) != null)
      assert(Seq("abcd").toDF("t").select(EntropyFunctions.byteEntropy(col("t")))
        .head().getDouble(0) == 2.0)
      // PQ kernels: m=1 subspace, 2 codewords over the 3-dim vector
      val book = Array(Array(Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)))
      assert(vec.select(PqFunctions.pqAssignCodes(col("a"), book))
        .head().getSeq[Byte](0) == Seq(1.toByte))
      assert(vec.select(PqFunctions.pqAdcTable(col("a"), book))
        .head().getSeq[Double](0) == Seq(0.0, 14.0))
      // Seq[Byte], not Array[Byte] (the latter maps to BinaryType)
      val adc = Seq((Seq(1.toByte), Seq(0.0, 14.0))).toDF("codes", "tab")
      assert(adc.select(PqFunctions.pqAdcScore(col("codes"), col("tab"), m = 1, ksub = 2))
        .head().getDouble(0) == 14.0)
      assert(vec.select(HashFunctions.signBits(col("a"), 3))
        .head().getSeq[Long](0) == Seq(7L))
      assert(vec.select(PqFunctions.centroidSubtract(col("a"), lit(1),
        Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))))
        .head().getSeq[Double](0) == Seq(0.0, 1.0, 2.0))
      assert(longs.select(HashFunctions.hammingDistance(col("a"), col("b")))
        .head().getInt(0) == java.lang.Long.bitCount(1L ^ 3L) +
          java.lang.Long.bitCount(3L ^ 5L) + java.lang.Long.bitCount(5L ^ 7L))
    } finally {
      conf.set("spark.sql.codegen.wholeStage", oldWs)
      conf.set("spark.sql.codegen.factoryMode", oldFm)
    }
  }
}
