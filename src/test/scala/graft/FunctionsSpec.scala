package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.{Kernels, MinHash, TextFunctions, Expressions}

/** Unit + property tests for the expression/kernel layer (reference test
  * style: hermetic unit tests, `tests/winnow/`). ScalaCheck Gen drives
  * the property tests through a fixed-seed sampler (no scalatestplus in
  * the offline cache).
  */
class FunctionsSpec extends SparkSpecBase {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Deterministic ScalaCheck sampling. */
  private def samples[T](g: Gen[T], n: Int = 60,
                         seed0: Long = 42L): Seq[T] = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).flatMap(i =>
      g.apply(params, org.scalacheck.rng.Seed(seed0 + i)))
  }
  // the two streams MUST use distinct seed bases: with a shared base,
  // identical generator shapes yield xs == ys in every sample, making
  // e.g. the merge-commutativity property vacuous (confirmed 60/60
  // identical under scalacheck 1.18)
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    samples(ga).zip(samples(gb, seed0 = 90042L)).foreach { case (a, b) => f(a, b) }

  test("shingle kernel == builtin array_distinct(transform(.., xxhash64)) bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    val texts = Seq("a b c d e", "a a a a", "x", "", "one two", "a  b   c",
      "word word word word word", "tail space ", " lead space")
    val df = texts.toDF("text")
    val builtin = df.select(TextFunctions.shingleHashes(col("text"), 3)).collect()
    val kernel = df.select(Expressions.shingleHashes(col("text"), 3)).collect()
    builtin.zip(kernel).zipWithIndex.foreach { case ((b, k), i) =>
      assert(b.getSeq[Long](0).sorted == k.getSeq[Long](0).sorted,
        s"mismatch on '${texts(i)}'")
    }
  }

  test("minhash expression == MinHashAgg UDAF bits (shared permutation family)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "q w e r t y u i")).toDF("id", "text")
    val shingled = docs.select(col("id"),
      Expressions.shingleHashes(col("text"), 3).as("shingles"))
    val viaExpr = shingled
      .select(col("id"), Expressions.minhashSig(col("shingles"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaUdaf = shingled
      .select(col("id"), explode(col("shingles")).as("h"))
      .groupBy("id").agg(MinHash.minhashAgg(16)(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaUdaf)
  }

  test("suffix array + binary search == String.contains on random low-alphabet strings (property)") {
    import graft.pipeline.ExactSubstring
    // low-alphabet strings maximize repeated suffixes and long shared
    // prefixes — the regime where a prefix-doubling rank bug or a
    // binary-search boundary bug would actually show; an ASCII-uniform
    // generator almost never exercises ties
    val hayGen = for {
      n <- Gen.chooseNum(0, 60)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val needleGen = for {
      n <- Gen.chooseNum(0, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
    } yield cs.mkString
    forAll2(hayGen, needleGen) { (hay: String, needle: String) =>
      val sa = ExactSubstring.suffixArray(hay)
      assert(sa.sorted.toSeq == (0 until hay.length),
        s"suffix array of '$hay' is not a permutation")
      // every true substring must be found...
      if (hay.nonEmpty) {
        val within = samples(
          Gen.zip(Gen.chooseNum(0, hay.length - 1), Gen.chooseNum(1, 8)), 5,
          seed0 = hay.hashCode.toLong)
        within.foreach { case (from, len) =>
          val sub = hay.substring(from, math.min(hay.length, from + len))
          assert(ExactSubstring.containsVia(hay, sa, sub),
            s"'$sub' (a real substring) not found in '$hay'")
        }
      }
      // ...and a random needle must agree with String.contains exactly
      if (hay.nonEmpty || needle.isEmpty) {
        val expected = hay.contains(needle)
        val got =
          if (needle.isEmpty) true
          else if (hay.isEmpty) false
          else ExactSubstring.containsVia(hay, sa, needle)
        assert(got == expected, s"'$needle' in '$hay': got $got")
      }
    }
  }

  test("radix suffix array == brute-force sorted suffixes (round-6 rewrite, larger n)") {
    // the counting-sort doubling rewrite must emit the UNIQUE sorted
    // suffix order at sizes past the property test's n<=60 — including
    // highly repetitive strings (rank-tie regime) and the 2-char edge
    val rnd = new scala.util.Random(20260822L)
    val cases = Seq(
      "aa", "ab", "ba", "aaaaaaaaaa", "abab" * 200,
      ("abc" * 1000) + "d",
      Array.fill(3000)("ab".charAt(rnd.nextInt(2))).mkString,
      Array.fill(2048)(('a' + rnd.nextInt(26)).toChar).mkString)
    cases.foreach { s =>
      val got = graft.pipeline.ExactSubstring.suffixArray(s).toSeq
      val want = (0 until s.length).sortBy(s.substring(_): String)
      assert(got == want, s"suffix array mismatch on n=${s.length}")
    }
  }

  test("minhash merge is commutative/associative/idempotent (property)") {
    val agg = new MinHash.MinHashAgg(8)
    forAll2(Gen.listOf(Gen.long), Gen.listOf(Gen.long)) { (xs: List[Long], ys: List[Long]) =>
      def sigOf(hs: List[Long]) = hs.foldLeft(agg.zero)(agg.reduce)
      val ab = agg.merge(sigOf(xs), sigOf(ys)).toSeq
      val ba = agg.merge(sigOf(ys), sigOf(xs)).toSeq
      val all = sigOf(xs ++ ys).toSeq
      assert(ab == ba && ab == all)
      assert(agg.merge(sigOf(xs), sigOf(xs)).toSeq == sigOf(xs).toSeq)
    }
  }

  test("estimated jaccard from minhash approximates exact jaccard") {
    forAll2(Gen.zip(Gen.chooseNum(0, 100), Gen.chooseNum(0, 100)), Gen.chooseNum(1, 100)) {
      case ((nA: Int, nB: Int), nShared: Int) =>
        val shared = (1 to nShared).map(i => Kernels.cachedSeeds(1)(0) * i + 7L)
        val a = shared ++ (1 to nA).map(i => 1000000L + i)
        val b = shared ++ (1 to nB).map(i => 2000000L + i)
        val sigA = Kernels.minhashSig(new GenericArrayData(a.toArray), 256)
        val sigB = Kernels.minhashSig(new GenericArrayData(b.toArray), 256)
        var eq = 0
        (0 until 256).foreach(i => if (sigA.getLong(i) == sigB.getLong(i)) eq += 1)
        val est = eq / 256.0
        val exact = (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size
        assert(math.abs(est - exact) < 0.22, s"est=$est exact=$exact")
    }
  }

  test("simhash: identical input -> hamming 0; hamming is symmetric and bounded") {
    val x = new GenericArrayData(Array(1L, 2L, 3L, 99L))
    val y = new GenericArrayData(Array(1L, 2L, 3L, 100L))
    val fx = Kernels.simhash64(x)
    val fx2 = Kernels.simhash64(new GenericArrayData(Array(99L, 3L, 2L, 1L)))
    assert(fx == fx2) // order-insensitive
    val fy = Kernels.simhash64(y)
    val d = java.lang.Long.bitCount(fx ^ fy)
    // these two 4-element sets differ in one element, so their bit
    // votes differ and the fingerprints must not collide (deterministic
    // for this fixed input — a constant-output regression fails here)
    assert(d > 0 && d <= 64, s"expected differing fingerprints, hamming=$d")
    // disjoint sets get (near-)independent fingerprints — a constant
    // or input-insensitive kernel collides here
    val fz = Kernels.simhash64(new GenericArrayData(Array(7001L, 7002L, 7003L, 7004L)))
    assert(fz != fx, "disjoint input sets must not produce identical fingerprints")
  }

  test("extractText: tags/scripts/styles/entities stripped, whitespace collapsed") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      ("<html><body><p>hello world</p></body></html>", "hello world"),
      ("<div>a<script>var x = 1 < 2;</script>b</div>", "a b"),
      ("<style>p { color: red }</style>text", "text"),
      ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end", "a & b <tag> \"q\" 's' end"),
      ("  lots   of\n\twhitespace  ", "lots of whitespace"),
      ("<SCRIPT src='x'>ignore()</script>MIXED<Style>s</STYLE>case", "MIXED case"),
      ("", ""),
      ("no markup at all", "no markup at all"),
      // comments, incl. '>' inside the comment body
      ("a<!-- hidden -->b", "a b"),
      ("a<!-- if x > y then --> b <!-- multi\nline -->c", "a b c"),
      // nested/deep tags
      ("<div><ul><li>one</li><li>two</li></ul></div>", "one two"),
      // unicode text and attributes
      ("<p lang=\"zh\">中文 文本</p>", "中文 文本"),
      ("<p>café naïve ü</p>", "café naïve ü"),
      // attributes with angle-ish content and self-closing tags
      ("<img src=\"x.png\" alt=\"pic\"/>after", "after"),
      ("<a href=\"/a?b=1&amp;c=2\">link</a>", "link"),
      // doctype + head noise
      ("<!DOCTYPE html><head><meta charset=\"utf-8\"></head>body text", "body text"),
      // script containing a fake closing tag inside a string stays clipped
      // at the first real close
      ("<script>var s = 'x';</script>kept", "kept"),
      // entity-only and whitespace-only bodies
      ("&nbsp;&nbsp;", ""),
      ("<p>   </p>", ""),
      // numeric entity for apostrophe inside a word
      ("it&#39;s fine", "it's fine"),
      // doubly-escaped entity: '&amp;lt;' renders as '&lt;' — decoding
      // '&amp;' LAST must not double-decode it into '<'
      ("5 &amp;lt; 6", "5 &lt; 6"),
      ("&amp;amp;", "&amp;"))
    val df = cases.map(_._1.getBytes("UTF-8")).toDF("html")
    val got = df.select(TextFunctions.extractText(col("html"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g == w) }
  }

  test("langId + qualityScore + tokenCount sanity") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      "the cat and the dog went to the market and it is good",
      "der hund und die katze ist nicht ein problem",
      "el que la los y es de la casa",
      "xyzzy plugh").toDF("text")
    val got = df.select(TextFunctions.langId(col("text"))).as[String].collect()
    assert(got(0) == "en" && got(1) == "de" && got(2) == "es" && got(3) == "und")
    val q = df.select(TextFunctions.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(3)) // real sentence beats gibberish
    val t = df.select(TextFunctions.tokenCount(col("text"))).as[Int].collect()
    assert(t(0) == 13 && t(3) == 2)
  }

  test("cosine kernel: unit vectors, orthogonal, self-similarity") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 1.0f), Array(-1.0f, -1.0f), -1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0) // zero-norm guard
    ).toDF("a", "b", "want")
    df.select(Expressions.cosineSim(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("winnowing fingerprints: deterministic, shift-robust sampling") {
    val spark2 = spark
    import spark2.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(base, "PREFIX " + base).toDF("text")
    val fps = df.select(TextFunctions.winnowFingerprints(col("text"), 8, 4))
      .collect().map(_.getSeq[Long](0).toSet)
    // content-defined sampling: shared content yields mostly shared fingerprints
    val shared = (fps(0) & fps(1)).size.toDouble
    assert(shared / math.max(1, fps(0).size) > 0.8)
  }

  test("LongProbe sizing is computed without Int overflow") {
    assert(Kernels.LongProbe.capacity(1024, 100) == 1024)
    assert(Kernels.LongProbe.capacity(1024, 513) == 2048)
    assert(Kernels.LongProbe.capacity(1024, 1 << 29) == (1 << 30))
    // n = 2^30: 2n wraps negative in Int; the bound is checked before
    // any table is allocated
    val e = intercept[IllegalArgumentException](Kernels.LongProbe.capacity(1024, 1 << 30))
    assert(e.getMessage.contains("exceeds"), e.getMessage)
  }
}
