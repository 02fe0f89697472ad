package graft.ops

import graft.SparkSpec
import graft.functions.{JsonUdfs, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different text about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "ab")                                             // shorter than any shingle
  ).toDF("doc_id", "text")

  test("Text: words/tokenCount/shingles incl. short-document guard") {
    val r = docs.select(
      Text.tokenCount(col("text")).as("n"),
      Text.wordShingles(col("text"), 3).as("sh")).collect()
    assert(r(0).getInt(0) == 9)
    assert(r(0).getSeq[String](1).contains("the quick brown"))
    assert(r(4).getSeq[String](1).isEmpty) // "ab" has < 3 words: empty, no crash
    val ch = docs.select(Text.charShingles(lit("abcd"), 3)).head().getSeq[String](0)
    assert(ch == Seq("abc", "bcd"))
  }

  test("Text: langId picks the stopword-dominant language, und otherwise") {
    val r = Seq("the cat is on the mat and it was fine",
      "der hund ist nicht mit der katze",
      "xyzzy qwerty").toDF("t")
      .select(Text.langId(col("t"))).collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "de", "und"))
  }

  test("Text: qualityScore is bounded, higher for fluent text than noise") {
    val r = Seq(
      "the quick brown fox jumps over the lazy dog and it was a fine day for running",
      "@@@ ### !!! $$$ %%% ^^^ &&& *** ((()))").toDF("t")
      .select(Text.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(r.forall(v => v >= 0.0 && v <= 1.0))
    assert(r(0) > r(1))
  }

  test("Text: normalizeText — NFC composition, singleton fold, whitespace collapse") {
    val r = Seq("cafe\u0301  du\tmonde \u212B x ").toDF("t")
      .select(Text.normalizeText(col("t"))).head().getString(0)
    assert(r == "caf\u00E9 du monde \u00C5 x")
    // already-normalized ASCII is returned unchanged (fast path)
    val ascii = Seq("plain text").toDF("t")
      .select(Text.normalizeText(col("t"))).head().getString(0)
    assert(ascii == "plain text")
    // SQL surface via GraftExtensions
    val sq = spark.sql("SELECT nfc_normalize('e\u0301') AS n").head().getString(0)
    assert(sq == "\u00E9")
    val row = spark.sql(
      """SELECT normalize_text(' a  b ') AS nt,
                gopher_pass('too short') AS gp,
                gopher_flags('x').word_count AS wc,
                pii_redact('mail a@b.co now') AS pr""").head()
    assert(row.getString(0) == "a b" && !row.getBoolean(1))
    assert(row.getLong(2) == 1L && row.getString(3) == "mail <EMAIL> now")
  }

  test("Text: gopherFlags rule metrics and combined pass decision") {
    val good = (Seq.fill(8)("the quality of the data and the model have") :+
      "improved with that scale").mkString(" ") // 76 words, stopword-rich
    val rows = Seq(
      (1L, good),
      (2L, "too short to pass"),                              // word_count < 50
      (3L, (1 to 60).map(_ => "• bullet line").mkString("\n")), // all-bullet lines
      (4L, Seq.fill(60)("trailing...").mkString("\n")),       // all-ellipsis lines
      (5L, Seq.fill(60)("### #### #####").mkString(" "))      // symbols, no letters
    ).toDF("doc_id", "t")
    val g = rows.select(col("doc_id"), Text.gopherFlags(col("t")).as("g"))
      .orderBy("doc_id").collect()
    def f(i: Int, name: String) = g(i).getStruct(1).getAs[Any](name)
    assert(f(0, "pass") == true)
    assert(f(0, "word_count") == 76L && f(0, "n_stop").asInstanceOf[Long] >= 5L)
    assert(f(1, "pass") == false) // short
    assert(f(2, "frac_bullet") == 1.0 && f(2, "pass") == false)
    assert(f(3, "frac_ellipsis") == 1.0 && f(3, "pass") == false)
    assert(f(4, "frac_alpha") == 0.0 && f(4, "pass") == false)
    // mean word length of the good doc: exact integer arithmetic
    val expectedMean = good.split("\\s+").map(_.length).sum.toDouble / 76
    assert(f(0, "mean_word_len") == expectedMean)
  }

  test("Text: scriptMix counts and dominant-script routing incl. tie-break") {
    val rows = Seq(
      "hello world",          // latin only
      "漢字漢字漢字 hi",       // cjk dominant (6 > 2)
      "дом дом",              // cyrillic
      "12345",                // digit
      "",                     // nothing → none
      "ab дд"                 // 2-2 tie → name-desc: latin
    ).toDF("t")
    val m = rows.select(Text.scriptMix(col("t")).as("m"))
      .select(col("m.main_script"), col("m.n_cjk"), col("m.n_cyrillic")).collect()
    assert(m.map(_.getString(0)).toSeq ==
      Seq("latin", "cjk", "cyrillic", "digit", "none", "latin"))
    assert(m(1).getLong(1) == 6L && m(2).getLong(2) == 6L)
  }

  test("Text: winnowMinima — window guarantee, shared-substring fingerprint overlap") {
    val df = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz0123"),
      (2L, "XXXXabcdefghijklmnopqrstuvwxyz"), // shares a 26-char run with 1
      (3L, "totally unrelated content here")
    ).toDF("id", "t")
    val fp = df.withColumn("_h", Text.positionalShingleHashes(col("t"), 8))
      .select(col("id"), Text.winnowMinima(col("_h"), 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // a shared run of length >= n + w - 1 = 11 guarantees a common fingerprint
    assert((fp(1L) & fp(2L)).nonEmpty)
    assert((fp(1L) & fp(3L)).isEmpty)
    // density: winnowing keeps far fewer than all positions
    assert(fp(1L).size < 30 - 7)
    // short doc: no window → empty
    val short = Seq("abc").toDF("t")
      .select(Text.winnowMinima(Text.positionalShingleHashes(col("t"), 8), 4))
      .head().getSeq[String](0)
    assert(short.isEmpty)
    // the native one-pass expression is element-for-element identical to
    // the composed form (incl. first-occurrence distinct order)
    val both = df.withColumn("_h", Text.positionalShingleHashes(col("t"), 8))
      .select(
        Text.winnowMinima(col("_h"), 4).as("composed"),
        graft.functions.WinnowFingerprints(lower(col("t")), 8, 4).as("native"))
      .collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    val uniNative = Seq("héllo wörld héllo wörld accent").toDF("t")
      .select(
        Text.winnowMinima(Text.positionalShingleHashes(col("t"), 8), 4).as("c"),
        graft.functions.WinnowFingerprints(lower(col("t")), 8, 4).as("n"))
      .head()
    assert(uniNative.getSeq[String](0) == uniNative.getSeq[String](1))
  }

  test("Text: winnowing guarantee property — planted shared runs always share a fingerprint") {
    import graft.functions.WinnowUtil
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(13)
    val n = 8; val w = 4
    def rndStr(len: Int) = Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    def fps(s: String): Set[String] = {
      val a = WinnowUtil.fingerprints(UTF8String.fromString(s), n, w)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toSet
    }
    for (_ <- 1 to 30) {
      // a shared run of exactly n + w - 1 chars planted at random offsets
      // inside otherwise-unrelated strings MUST yield a common fingerprint
      val shared = rndStr(n + w - 1)
      val s1 = rndStr(rnd.nextInt(40)) + shared + rndStr(rnd.nextInt(40))
      val s2 = rndStr(rnd.nextInt(40)) + shared + rndStr(rnd.nextInt(40))
      assert((fps(s1) & fps(s2)).nonEmpty, s"no shared fp for run '$shared'")
      // density: never more fingerprints than windows, never zero for
      // strings long enough to have one
      val f1 = fps(s1)
      assert(f1.nonEmpty && f1.size <= s1.length - n - w + 2)
    }
  }

  test("Text: fingerprint is order-stable and md5-shaped") {
    val fp = docs.filter(col("doc_id") === 1).select(Text.fingerprint(col("text"))).head().getString(0)
    val fp2 = docs.filter(col("doc_id") === 4).select(Text.fingerprint(col("text"))).head().getString(0)
    assert(fp == fp2 && fp.matches("[0-9a-f]{32}"))
  }

  test("Dedup.exactByContent groups identical texts") {
    val r = Dedup.exactByContent(docs, "doc_id", "text")
      .filter(col("n_copies") >= 2).collect()
    assert(r.length == 1 && r.head.getAs[Long]("keep_id") == 1L && r.head.getAs[Long]("n_copies") == 2L)
  }

  test("Dedup.ngramJaccardPairs finds near-dups via inverted index, exact scores") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(keys.contains((1L, 2L)) && keys.contains((2L, 4L))) // near-dups
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc excluded
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(exact.getDouble(2) == 1.0)
  }

  test("Dedup.ngramJaccardPairs stop-shingle cap bounds hot-key fan-out") {
    // with a cap of 1 every shared shingle is dropped → no pairs at all
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.1, maxShingleDocFreq = graft.ops.CapSpec.Fixed(1))
    assert(pairs.count() == 0)
  }

  test("Dedup.minhashLshPairs: candidates via bands, exact verification, no false positives") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, threshold = 0.5).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 4L))) // identical docs always collide in every band
    assert(pairs.forall(_.getDouble(2) >= 0.5)) // exact-verify: no false positives
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("Dedup.minhashLshPairs recall vs exact Jaccard ground truth on the real corpus") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
    val exactHigh = pairSet(exact.filter(col("jaccard") >= 0.7))
    val exactAll = pairSet(exact)
    val lsh = pairSet(Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, threshold = 0.5))
    // exact-verify step ⇒ zero false positives vs the exact ground truth
    assert(lsh.subsetOf(exactAll), (lsh -- exactAll).take(5))
    // S-curve recall: pairs well above threshold (j ≥ 0.7) are near-certain
    // candidates at (8 bands × 4 rows); require ≥ 70% found
    assert(exactHigh.nonEmpty, "corpus has no high-similarity pairs — test is vacuous")
    val recall = (lsh & exactHigh).size.toDouble / exactHigh.size
    assert(recall >= 0.7, s"LSH recall $recall over ${exactHigh.size} high-sim pairs")
  }

  test("Dedup incremental shapes: exactNewOnly filters known content, ngramJaccardAgainst pairs across corpora") {
    val corpus = docs.filter(col("doc_id") <= 3)
    val incoming = docs.filter(col("doc_id") >= 4) // doc 4 = exact dup of 1; doc 5 unique
    val fresh = Dedup.exactNewOnly(incoming, corpus, "text").collect()
    assert(fresh.map(_.getLong(0)).toSeq == Seq(5L)) // dup-of-corpus dropped, novel kept
    val pairs = Dedup.ngramJaccardAgainst(incoming, corpus, "doc_id", "text",
      n = 3, threshold = 0.5).collect()
    assert(pairs.exists(r => r.getLong(0) == 4L && r.getLong(1) == 1L && r.getDouble(2) == 1.0))
    assert(pairs.forall(r => r.getLong(0) >= 4L && r.getLong(1) <= 3L)) // strictly cross-side
    assert(!pairs.exists(r => r.getLong(1) == 3L)) // unrelated corpus doc never pairs
  }

  test("Dedup.charJaccardPairs: tokenization-free near-dups; short docs never pair") {
    val pairs = Dedup.charJaccardPairs(docs, "doc_id", "text", n = 8, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 4L))) // exact dup
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(exact.getDouble(2) == 1.0)
    assert(!keys.exists { case (a, b) => a == 5L || b == 5L }) // "ab" < 8 chars: no shingles
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L }) // unrelated text
  }

  test("Dedup.ngramOverlapScore: exact contamination fractions incl. short docs") {
    val ref = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta"),      // all 2 3-grams in ref -> 1.0
      (11L, "alpha beta gamma other words"), // 1 of 3 -> 1/3
      (12L, "totally novel content here"),   // 0 of 2 -> 0.0
      (13L, "short one")                     // no 3-grams -> 0 over 0
    ).toDF("doc_id", "text")
    val r = Dedup.ngramOverlapScore(corpus, "doc_id", "text", ref, "text", n = 3)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((10L, 2L, 2L), (11L, 3L, 1L), (12L, 2L, 0L), (13L, 0L, 0L)))
    assert(r(0).getDouble(3) == 1.0 && r(3).getDouble(3) == 0.0)
  }

  test("Sampling.byContentHash: deterministic, content-keyed, nested across fractions") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    def ids(f: Double) = Sampling.byContentHash(corpus, "text", f)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val p10 = ids(0.10)
    val p50 = ids(0.50)
    assert(ids(0.10) == p10)          // reproducible
    assert(p10.subsetOf(p50))         // nested
    assert(ids(0.0).isEmpty && ids(1.0).size == corpus.count())
    val n = corpus.count().toDouble
    assert(math.abs(p50.size / n - 0.5) < 0.15, s"${p50.size} of $n") // roughly proportional
    // repartitioning must not change membership (content-keyed, not row-keyed)
    val reparted = Sampling.byContentHash(corpus.repartition(7), "text", 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reparted == p10)
  }

  test("Sampling.stratifiedByContentHash: per-stratum fractions, consistent with flat sampling") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val mixed = Sampling.stratifiedByContentHash(corpus, "text", "source",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultFraction = 0.5)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = corpus.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == totals("src0"))        // fraction 1.0 keeps all
    assert(!bySrc.contains("src1"))                // fraction 0.0 keeps none
    // a stratum at fraction f holds exactly the flat-f sample of its rows
    // (same md5 cutoff ⇒ nested/reproducible per stratum)
    val flat = Sampling.byContentHash(corpus.filter(col("source") === "src2"), "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val strat = mixed.filter(col("source") === "src2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strat == flat)
  }

  test("Text.dupNgramRatio: exact repeat fractions incl. short-doc guard") {
    val df = Seq(
      "a a a a",          // 4 words, 1 distinct -> 0.75; 3 bigrams, 1 distinct -> 2/3
      "a b c d",          // all distinct -> 0.0, 0.0
      "x",                // 1 word -> 0.0; no bigrams -> 0.0
      "").toDF("t")
    val r = df.select(
      Text.dupNgramRatio(col("t"), 1).as("w"),
      Text.dupNgramRatio(col("t"), 2).as("b")).collect()
    assert(r(0).getDouble(0) == 0.75 && math.abs(r(0).getDouble(1) - 2.0 / 3) < 1e-12)
    assert(r(1).getDouble(0) == 0.0 && r(1).getDouble(1) == 0.0)
    assert(r(2).getDouble(0) == 0.0 && r(2).getDouble(1) == 0.0)
    assert(r(3).getDouble(0) == 0.0 && r(3).getDouble(1) == 0.0)
  }

  test("Packing.tokenWindows: overlap, short docs, full coverage, empty drop") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words, W=4 S=2 -> starts 0,2,4,6
      (2L, "a b"),                                    // shorter than W -> itself
      (3L, "   "),                                    // no tokens -> no rows
      (4L, "x1 x2 x3 x4 x5")                          // stride misaligned: short final chunk
    ).toDF("doc_id", "text")
    val r = Packing.tokenWindows(df, "doc_id", "text", window = 4, stride = 2)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = r.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
    assert(d1.head.getString(2) == "w1 w2 w3 w4")
    assert(d1.last.getString(2) == "w7 w8 w9 w10")
    assert(d1.forall(_.getInt(3) == 4))
    val d2 = r.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getString(2) == "a b" && d2.head.getInt(3) == 2)
    assert(!r.exists(_.getLong(0) == 3L))
    // 5 words, W=4 S=2: the last token MUST be covered (ceil'd last start),
    // via a short final chunk
    val d4 = r.filter(_.getLong(0) == 4L)
    assert(d4.map(x => (x.getInt(1), x.getString(2))).toSeq ==
      Seq((0, "x1 x2 x3 x4"), (1, "x3 x4 x5")))
  }

  test("Packing.selectByTokenBudget: greedy per-stream admission, deterministic ties") {
    val df = Seq(
      ("en", 1L, 0.9, 50L), ("en", 2L, 0.8, 60L), ("en", 3L, 0.7, 10L),
      ("de", 4L, 0.5, 100L), ("de", 5L, 0.9, 100L),
      ("fr", 6L, 0.5, 500L)) // over budget alone, but first in its stream
      .toDF("lang", "doc_id", "q", "ntok")
    val got = Packing.selectByTokenBudget(df, Seq("lang"), col("q"), "doc_id",
        col("ntok"), budget = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // en: 0.9 (before 0) + 0.8 (before 50) admitted; 0.7 (before 110) not.
    // de: 0.9 first (before 0); 0.5 (before 100) not. fr: first doc always.
    assert(got == Set(1L, 2L, 5L, 6L))
  }

  test("Ann.quantizeInt8: clamp, zero-vector guard, round-trip error bound") {
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "v")
    val r = df.select(col("vec_id"), Ann.quantizeInt8(col("v")).as("qz"))
      .select(col("vec_id"), col("qz.q"), col("qz.scale")).orderBy("vec_id").collect()
    assert(r(0).getSeq[Int](1) == Seq(64, -127, 32)) // scale 63.5: 63.5->64, -127, 31.75->32
    assert(r(0).getDouble(2) == 63.5)
    assert(r(1).getSeq[Int](1) == Seq(0, 0, 0) && r(1).getDouble(2) == 0.0)
  }

  test("Packing.concatChunkBins: per-stream deterministic chunk assignment, exact offsets") {
    val df = Seq(
      (1L, "en", "a b c"), (2L, "en", "d e"), (3L, "en", "f g h i"),
      (4L, "de", "x y")).toDF("doc_id", "lang", "text")
    val r = Packing.concatChunkBins(df, Seq("lang"), "doc_id",
      Text.tokenCount(col("text")), budget = 4)
      .orderBy("doc_id").collect()
    // en tokens 3,2,4 → offsets 0,3,5 → bins 0,0,1; de stream restarts at 0
    assert(r.map(x => (x.getAs[Long]("offset"), x.getAs[Long]("bin"))).toSeq ==
      Seq((0L, 0L), (3L, 0L), (5L, 1L), (0L, 0L)))
  }

  test("Dedup.simhash: identical docs hash identically; pairs at distance 0") {
    val h = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(4L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDistance = 3)
    val p14 = pairs.filter(col("id_a") === 1 && col("id_b") === 4).collect()
    assert(p14.length == 1 && p14.head.getInt(2) == 0)
  }

  test("Dedup.simhash portable hash matches xxhash semantics: dups collide, pairs at distance 0") {
    val h = Dedup.simhash(docs, "doc_id", "text", portableHash = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(4L)) // identical text → identical portable fingerprint
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDistance = 3, portableHash = true)
    val p14 = pairs.filter(col("id_a") === 1 && col("id_b") === 4).collect()
    assert(p14.length == 1 && p14.head.getInt(2) == 0)
  }

  test("Ann.ivfBuild/ivfSearch: build once, search repeatedly; exhaustive probe equals brute force") {
    val rnd = new scala.util.Random(23)
    val rows = (1L to 60L).map { i =>
      val center = if (i <= 30) 5.0 else -5.0
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.3))
    }
    val emb = rows.toDF("id", "v")
    val index = Ann.ivfBuild(emb, "id", "v", nlist = 4)
    index.assigned.persist()
    try {
      def q(id: Long) = emb.filter(col("id") === id).select(col("id").as("qid"), col("v").as("qv"))
      // two searches over ONE build; nprobe = nlist ⇒ must equal brute force
      for (qid <- Seq(1L, 40L)) {
        val ivf = Ann.ivfSearch(index, q(qid), "qid", "qv", k = 5, nprobe = 4).collect()
        val brute = Ann.bruteTopK(emb, "id", "v", q(qid), "qid", "qv", k = 5).collect()
        assert(ivf.map(_.getLong(2)).toSeq == brute.map(_.getLong(2)).toSeq)
      }
    } finally index.assigned.unpersist()
  }

  test("Ann.ivfSave/ivfLoad: build-write-reload-search round trip equals in-session search") {
    val rnd = new scala.util.Random(29)
    val rows = (1L to 50L).map { i =>
      val center = if (i <= 25) 3.0 else -3.0
      (i, Seq.fill(6)(center + rnd.nextGaussian() * 0.4))
    }
    val emb = rows.toDF("id", "v")
    val index = Ann.ivfBuild(emb, "id", "v", nlist = 4)
    val root = tmpDir("ivf-persist").toString
    Ann.ivfSave(index, root)
    val loaded = Ann.ivfLoad(spark, root)
    // centroids bit-identical, in cell order
    assert(loaded.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
    // assignments identical as a set
    val a0 = index.assigned.collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2))).toSet
    val a1 = loaded.assigned.collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2))).toSet
    assert(a1 == a0)
    // search results identical, pruned and exhaustive
    val q = emb.filter(col("id") === 7L).select(col("id").as("qid"), col("v").as("qv"))
    for (nprobe <- Seq(1, 4)) {
      val fresh = Ann.ivfSearch(index, q, "qid", "qv", k = 5, nprobe = nprobe).collect()
      val reload = Ann.ivfSearch(loaded, q, "qid", "qv", k = 5, nprobe = nprobe).collect()
      assert(reload.map(_.toSeq).toSeq == fresh.map(_.toSeq).toSeq)
    }
    // re-save replaces the snapshot (idempotent), and the table time-travels
    Ann.ivfSave(index, root)
    assert(Ann.ivfLoad(spark, root).centroids.length == index.centroids.length)

    // every index kind persists as Delta tables: a re-save is one
    // full-overwrite commit per table, and the reload holds each item once
    val pq = Ann.pqTrain(emb, "id", "v", m = 3, ksub = 4)
    val ivfPq = Ann.ivfPqBuild(emb, "id", "v", nlist = 4, m = 3, ksub = 4)
    val kinds: Seq[(String, String => Unit, String => DataFrame, Seq[String])] = Seq(
      ("ivf", Ann.ivfSave(index, _), Ann.ivfLoad(spark, _).assigned,
        Seq("centroids", "assigned")),
      ("pq", Ann.pqSave(pq, _), Ann.pqLoad(spark, _).encoded, Seq("codebooks", "encoded")),
      ("ivfpq", Ann.ivfPqSave(ivfPq, _), Ann.ivfPqLoad(spark, _).encoded,
        Seq("centroids", "codebooks", "encoded")))
    kinds.foreach { case (kind, save, load, tables) =>
      val dir = tmpDir(s"$kind-persist-delta").toString
      save(dir)
      save(dir)
      tables.foreach { t =>
        val path = s"$dir/$t"
        assert(graft.sources.DeltaLog.isDeltaTable(spark, path), path)
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_log")), path)
        assert(graft.sources.DeltaLog.snapshot(spark, path).version == 2L, path) // create + 2 saves
      }
      assert(load(dir).count() == rows.size, kind)
    }
  }

  test("Ann: bruteTopK ranks self-match first with cosine 1.0") {
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.9, 0.1, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 1.0))).toDF("id", "v")
    val q = emb.filter(col("id") === 1).select(col("id").as("qid"), col("v").as("qv"))
    val r = Ann.bruteTopK(emb, "id", "v", q, "qid", "qv", k = 3)
      .orderBy("rank").collect()
    assert(r(0).getLong(2) == 1L && r(0).getDouble(3) == 1.0)
    assert(r(1).getLong(2) == 2L) // nearest non-self
  }

  test("Ann: lshTopK finds the same top result as brute force on clustered data") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(16)(rnd.nextGaussian())
    def jitter(eps: Double) = base.map(_ + eps * rnd.nextGaussian())
    val rows = (1L to 40L).map(i => (i, jitter(if (i <= 20) 0.05 else 5.0)))
    val emb = rows.toDF("id", "v")
    val q = emb.filter(col("id") === 1).select(col("id").as("qid"), col("v").as("qv"))
    val brute = Ann.bruteTopK(emb, "id", "v", q, "qid", "qv", k = 5).collect()
    val lsh = Ann.lshTopK(emb, "id", "v", q, "qid", "qv", k = 5,
      m = 8, dim = 16, probeDistance = 2).collect()
    assert(lsh.head.getLong(2) == brute.head.getLong(2)) // top-1 agrees
    assert(lsh.length <= 5 && lsh.nonEmpty)
  }

  test("Splits.hashSplit: grouped split is leakage-safe, fractions track weights, stable across runs") {
    val rows = (1L to 2000L).map(i => (i, s"domain-${i % 97}"))
    val df = rows.toDF("id", "domain")
    val withSplits = df.select(col("id"), col("domain"),
      Splits.hashSplit(col("id"), Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), seed = 5L).as("s"),
      Splits.hashSplit(col("domain"), Seq("train" -> 0.8, "test" -> 0.2), seed = 5L).as("gs"))
    val r = withSplits.collect()
    // leakage-safety: every row of a domain gets the SAME grouped split
    val byDomain = r.groupBy(_.getString(1)).view.mapValues(_.map(_.getString(3)).toSet)
    assert(byDomain.values.forall(_.size == 1))
    // i.i.d. fractions within a loose tolerance of the weights
    val frac = r.groupBy(_.getString(2)).view.mapValues(_.length / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac)
    assert(math.abs(frac.getOrElse("valid", 0.0) - 0.1) < 0.03, frac)
    // stability: appending rows never reassigns existing ones
    val half = df.filter(col("id") <= 1000)
      .select(col("id"), Splits.hashSplit(col("id"),
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), seed = 5L).as("s"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    r.filter(_.getLong(0) <= 1000).foreach(x => assert(half(x.getLong(0)) == x.getString(2)))
  }

  test("Splits.writeShards: hive shard dirs, complete, balanced, rows in shuffle-rank order") {
    val df = (1L to 800L).map(i => (i, s"text-$i")).toDF("id", "text")
    val out = tmpDir("shards").resolve("out").toString
    Splits.writeShards(df, col("id"), nShards = 4, out, seed = 9L)
    val back = spark.read.parquet(out)
    assert(back.count() == 800)
    // every row in its assigned shard; shards expectation-balanced
    val mismatch = back.withColumn("expect", Splits.shard(col("id"), 4, 9L))
      .filter(col("shard") =!= col("expect")).count()
    assert(mismatch == 0)
    val sizes = back.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3), sizes)
    assert(sizes.values.forall(n => n > 120 && n < 280), sizes)
    // within one shard's files (name order), rows stream in shuffle order
    val s0 = spark.read.parquet(s"$out/shard=0")
      .withColumn("rank", Splits.shuffleOrder(col("id"), 9L)).collect().map(_.getString(2))
    assert(s0.toSeq == s0.toSeq.sorted)
  }

  test("Ann.pqTrain/pqSearch: codes are block-local, ADC keeps the query's own cluster on top") {
    val rnd = new scala.util.Random(31)
    val rows = (1L to 60L).map { i =>
      val center = if (i <= 30) 4.0 else -4.0
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.3))
    }
    val emb = rows.toDF("id", "v")
    val index = Ann.pqTrain(emb, "id", "v", m = 2, ksub = 4)
    assert(index.m == 2 && index.dsub == 4)
    val codes = index.encoded.collect()
    assert(codes.length == 60)
    codes.foreach { r =>
      val c = r.getSeq[Int](1)
      assert(c.length == 2 && c.forall(j => j >= 0 && j < 4), c)
    }
    val q = emb.filter(col("id") === 3L).select(col("id").as("qid"), col("v").as("qv"))
    val r = Ann.pqSearch(index, q, "qid", "qv", k = 10).orderBy("rank").collect()
    assert(r.length == 10)
    // ad2 non-decreasing with rank; every hit from the query's own cluster
    val ad2s = r.map(_.getDouble(3)).toSeq
    assert(ad2s == ad2s.sorted, ad2s)
    assert(r.forall(_.getLong(2) <= 30L), r.map(_.getLong(2)).toSeq)
  }

  test("Ann.pqTopK with exhaustive rerank equals brute force exactly") {
    val rnd = new scala.util.Random(37)
    val rows = (1L to 50L).map { i =>
      val center = if (i <= 25) 3.0 else -3.0
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.5))
    }
    val emb = rows.toDF("id", "v")
    val q = emb.filter(col("id") < 3L).select(col("id").as("qid"), col("v").as("qv"))
    val pq = Ann.pqTopK(emb, "id", "v", q, "qid", "qv",
      k = 5, m = 4, ksub = 8, rerank = 50).collect()
    val brute = Ann.bruteTopK(emb, "id", "v", q, "qid", "qv", k = 5).collect()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1))
    val pqM = pq.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    val brM = brute.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(pqM == brM)
  }

  test("Ann.ivfPqBuild/ivfPqSearch: residual codes bounded, probed search recovers the cluster") {
    val rnd = new scala.util.Random(43)
    val rows = (1L to 80L).map { i =>
      val center = (i % 4).toDouble * 4.0
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.3))
    }
    val emb = rows.toDF("id", "v")
    val index = Ann.ivfPqBuild(emb, "id", "v", nlist = 4, m = 2, ksub = 8)
    val enc = index.encoded.collect()
    assert(enc.length == 80)
    enc.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 4)
      val c = r.getSeq[Int](2)
      assert(c.length == 2 && c.forall(j => j >= 0 && j < 8), c)
    }
    val q = emb.filter(col("id") === 8L).select(col("id").as("qid"), col("v").as("qv"))
    // exhaustive probe: ADC over every cell must put the brute top-1 in its top-10
    val adc = Ann.ivfPqSearch(index, q, "qid", "qv", k = 10, nprobe = 4)
      .collect()
    assert(adc.length == 10)
    val ad2s = adc.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
    assert(ad2s == ad2s.sorted, ad2s)
    val brute = Ann.bruteTopK(emb, "id", "v", q, "qid", "qv", k = 1).collect()
    assert(adc.map(_.getLong(2)).contains(brute.head.getLong(2)))
    // pruned probe scans only the probed cells' share of the corpus
    val pruned = Ann.ivfPqSearch(index, q, "qid", "qv", k = 10, nprobe = 1).collect()
    assert(pruned.nonEmpty && pruned.forall(_.getDouble(3) >= 0 - 1e-9))
  }

  test("Pca.fit/project: orthonormal axes, top component separates clusters, centered scores") {
    val rnd = new scala.util.Random(59)
    // two clusters displaced along a fixed direction + isotropic noise
    val dirV = Array.fill(6)(rnd.nextGaussian())
    val nrm = math.sqrt(dirV.map(x => x * x).sum)
    val d = dirV.map(_ / nrm)
    val rows = (1L to 200L).map { i =>
      val s = if (i % 2 == 0) 5.0 else -5.0
      (i, (0 until 6).map(j => s * d(j) + rnd.nextGaussian() * 0.3))
    }
    val emb = rows.toDF("id", "v")
    val model = Pca.fit(emb, "v", k = 3)
    assert(model.k == 3 && model.dim == 6)
    // axes unit-norm and pairwise orthogonal
    for (a <- model.components) assert(math.abs(a.map(x => x * x).sum - 1.0) < 1e-6)
    for (Seq(a, b) <- model.components.toSeq.combinations(2))
      assert(math.abs(a.zip(b).map { case (x, y) => x * y }.sum) < 1e-6)
    // top axis ≈ the displacement direction (up to sign)
    val align = math.abs(model.components(0).zip(d).map { case (x, y) => x * y }.sum)
    assert(align > 0.99, align)
    val proj = emb.withColumn("cv", Pca.center(col("v"), model))
      .select(col("id"), Pca.projectCentered(col("cv"), model).as("pc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    // centered: each component's scores average ~0; pc0 separates the clusters
    val pc0 = proj.map(_._2.head)
    assert(math.abs(pc0.sum / pc0.length) < 0.5)
    val (even, odd) = proj.partition(_._1 % 2 == 0)
    assert(even.map(_._2.head).forall(x => x > 3 || x < -3))
    assert(math.signum(even.head._2.head) != math.signum(odd.head._2.head))
    assert(even.map(x => math.signum(x._2.head)).distinct.length == 1)
  }

  test("Ann.pqSave/pqLoad: persisted flat-PQ index searches identically") {
    val rnd = new scala.util.Random(53)
    val rows = (1L to 40L).map { i =>
      val center = if (i <= 20) 2.0 else -2.0
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.5))
    }
    val emb = rows.toDF("id", "v")
    val index = Ann.pqTrain(emb, "id", "v", m = 4, ksub = 4)
    val root = tmpDir("pq-persist").toString
    Ann.pqSave(index, root)
    val loaded = Ann.pqLoad(spark, root)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      index.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val q = emb.filter(col("id") === 9L).select(col("id").as("qid"), col("v").as("qv"))
    val fresh = Ann.pqSearch(index, q, "qid", "qv", k = 5).collect()
    val reload = Ann.pqSearch(loaded, q, "qid", "qv", k = 5).collect()
    assert(reload.map(_.toSeq).toSeq == fresh.map(_.toSeq).toSeq)
  }

  test("Ann.ivfPqSave/ivfPqLoad: persisted index searches identically, cell-pruned") {
    val rnd = new scala.util.Random(47)
    val rows = (1L to 60L).map { i =>
      val center = if (i <= 30) 2.5 else -2.5
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.4))
    }
    val emb = rows.toDF("id", "v")
    val index = Ann.ivfPqBuild(emb, "id", "v", nlist = 4, m = 4, ksub = 4)
    val root = tmpDir("ivfpq-persist").toString
    Ann.ivfPqSave(index, root)
    val loaded = Ann.ivfPqLoad(spark, root)
    assert(loaded.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      index.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val q = emb.filter(col("id") === 5L).select(col("id").as("qid"), col("v").as("qv"))
    for (nprobe <- Seq(1, 4)) {
      val fresh = Ann.ivfPqSearch(index, q, "qid", "qv", k = 5, nprobe = nprobe).collect()
      val reload = Ann.ivfPqSearch(loaded, q, "qid", "qv", k = 5, nprobe = nprobe).collect()
      assert(reload.map(_.toSeq).toSeq == fresh.map(_.toSeq).toSeq)
    }
  }

  test("Ann.pqSearch: pure-ADC recall@10 on clustered data recovers the brute top-1") {
    val rnd = new scala.util.Random(41)
    val rows = (1L to 80L).map { i =>
      val center = (i % 4).toDouble * 3.0
      (i, Seq.fill(16)(center + rnd.nextGaussian() * 0.4))
    }
    val emb = rows.toDF("id", "v")
    val q = emb.filter(col("id") === 5L).select(col("id").as("qid"), col("v").as("qv"))
    val index = Ann.pqTrain(emb, "id", "v", m = 4, ksub = 16)
    val adc = Ann.pqSearch(index, q, "qid", "qv", k = 10).collect().map(_.getLong(2)).toSet
    val brute = Ann.bruteTopK(emb, "id", "v", q, "qid", "qv", k = 1).collect()
    assert(adc.contains(brute.head.getLong(2)))
  }

  test("Joins.asofJoin: latest prior right row per key, inclusive ties, inner/outer") {
    val left = Seq(
      (1L, 10L, "l1"), (1L, 20L, "l2"), (1L, 5L, "l0"), (2L, 50L, "l3")
    ).toDF("k", "t", "name")
    val right = Seq(
      (1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 60L, 600.0)
    ).toDF("k", "t", "price")
    val inner = Joins.asofJoin(left, right, Seq("k"), "t", Seq("price"))
      .orderBy("t").collect()
    // l0 (t=5): no prior right row → dropped; l1 (t=10): inclusive match 100;
    // l2 (t=20): latest prior is t=15 → 150; l3 (t=50): right at 60 is later → dropped
    assert(inner.map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSeq ==
      Seq(("l1", 10L, 100.0), ("l2", 15L, 150.0)))
    val outer = Joins.asofJoin(left, right, Seq("k"), "t", Seq("price"), keepUnmatched = true)
    assert(outer.count() == 4)
    assert(outer.filter(col("name") === "l0").head().isNullAt(3))
  }

  test("Joins.intervalJoin: containment semantics, bucket-boundary crossing, span guard") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq(
      (1L, 10L, t("2024-01-01 10:30:00")), // inside w1
      (2L, 10L, t("2024-01-01 11:59:59")), // inside w2 (started 11:30, crosses bucket)
      (3L, 10L, t("2024-01-01 12:31:00")), // after w2 ended 12:30 → no match
      (4L, 20L, t("2024-01-01 10:30:00"))  // other user: no windows
    ).toDF("event_id", "user_id", "ts")
    val windows = Seq(
      (10L, 100L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00")),
      (10L, 200L, t("2024-01-01 11:30:00"), t("2024-01-01 12:30:00"))
    ).toDF("user_id", "win_id", "w_start", "w_end")
    val joined = Joins.intervalJoin(clicks, windows, Seq("user_id"), "ts", "w_start", "w_end")
      .select(col("event_id"), col("win_id_r")).orderBy("event_id").collect()
    assert(joined.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 100L), (2L, 200L)))
    // end-exclusive: a click exactly at w_end does not match
    val atEnd = Seq((9L, 10L, t("2024-01-01 11:00:00"))).toDF("event_id", "user_id", "ts")
    assert(Joins.intervalJoin(atEnd, windows, Seq("user_id"), "ts", "w_start", "w_end").count() == 0)
    // span guard: a week-long interval at 1s buckets fails fast
    val wide = Seq((10L, 1L, t("2024-01-01 00:00:00"), t("2024-01-08 00:00:00")))
      .toDF("user_id", "win_id", "w_start", "w_end")
    assertThrows[Exception] {
      Joins.intervalJoin(clicks, wide, Seq("user_id"), "ts", "w_start", "w_end",
        bucketSeconds = 1, maxIntervalBuckets = 100).count()
    }
  }

  test("Ann.cosinePairs: LSH candidates + exact filter, no false positives") {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(16)(rnd.nextGaussian())
    val rows =
      Seq((1L, base), (2L, base.map(_ * 1.001 + 0.0005))) ++     // near-identical pair
        (3L to 30L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
    val emb = rows.toDF("id", "v")
    val pairs = Ann.cosinePairs(emb, "id", "v", threshold = 0.99, m = 10, dim = 16)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(pairs.forall(_.getDouble(2) >= 0.99)) // exact verification
  }

  test("Ann.ivfTopK: probed cells recover the brute-force top result") {
    val rnd = new scala.util.Random(23)
    val rows = (1L to 60L).map { i =>
      val center = if (i <= 30) 5.0 else -5.0
      (i, Seq.fill(8)(center + rnd.nextGaussian() * 0.3))
    }
    val emb = rows.toDF("id", "v")
    val q = emb.filter(col("id") === 1).select(col("id").as("qid"), col("v").as("qv"))
    val brute = Ann.bruteTopK(emb, "id", "v", q, "qid", "qv", k = 5).collect()
    val ivf = Ann.ivfTopK(emb, "id", "v", q, "qid", "qv", k = 5, nlist = 4, nprobe = 2)
      .collect()
    assert(ivf.head.getLong(2) == brute.head.getLong(2))
    assert(ivf.map(_.getLong(2)).toSet.subsetOf((1L to 30L).toSet)) // same cluster only
  }

  test("Ann.semanticClusters: clustered path matches exhaustive on separated data") {
    val rnd = new scala.util.Random(31)
    // two well-separated centers; ids 1-3 and 11-13 are near-dup groups
    // inside their cluster, the rest are spread-out singletons
    def around(c: Double, eps: Double) = Seq.fill(8)(c + rnd.nextGaussian() * eps)
    val rows =
      (1L to 3L).map(i => (i, around(5.0, 0.01))) ++
        (11L to 13L).map(i => (i, around(-5.0, 0.01))) ++
        (21L to 26L).map(i => (i, Seq.fill(8)(rnd.nextGaussian() * 3)))
    val emb = rows.toDF("id", "v")
    val clustered = Ann.semanticClusters(emb, "id", "v", threshold = 0.999, nlist = 2)
      .orderBy("id").collect()
    // each near-dup group resolves to its min id; singletons keep themselves
    val label = clustered.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 3L).forall(label(_) == 1L))
    assert((11L to 13L).forall(label(_) == 11L))
    assert((21L to 26L).forall(i => label(i) == i))
    // exactly one keep per component, and keep = (id == component)
    assert(clustered.count(_.getBoolean(2)) == label.values.toSet.size)
    // cluster pruning loses nothing here: exhaustive (nlist = 1) agrees
    val exhaustive = Ann.semanticClusters(emb, "id", "v", threshold = 0.999, nlist = 1)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(label == exhaustive)
  }

  test("Sampling.perGroupSample: exactly k per group, deterministic, id tie-break") {
    val rows = (1L to 30L).map(i => (i, if (i <= 20) "g1" else "g2", s"text $i")) :+
      (31L, "g2", "text 25") // duplicate content of id 25: md5 tie → id order
    val df = rows.toDF("id", "grp", "t")
    val s1 = Sampling.perGroupSample(df, Seq("grp"), "t", "id", k = 5)
      .orderBy("grp", "sample_rank").collect()
    assert(s1.count(_.getString(1) == "g1") == 5)
    assert(s1.count(_.getString(1) == "g2") == 5)
    // deterministic: a repartitioned re-run yields the identical sample
    val s2 = Sampling.perGroupSample(df.repartition(7), Seq("grp"), "t", "id", k = 5)
      .orderBy("grp", "sample_rank").collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq)
    // a group smaller than k yields the whole group
    val small = Sampling.perGroupSample(df.filter(col("id") > 28), Seq("grp"), "t", "id", k = 5)
    assert(small.count() == 3)
  }

  test("Ranking.bm25: tf/df/length normalization wiring against hand arithmetic") {
    val corpus = Seq(
      (1L, "spark spark fast engine"),   // tf(spark)=2, dl=4
      (2L, "slow table scan here"),      // tf=0
      (3L, "spark on a cluster")         // tf=1, dl=4
    ).toDF("doc_id", "text")
    val r = Ranking.bm25(corpus, "doc_id", "text", Seq("spark"))
      .orderBy("doc_id").collect()
    val n = 3L; val df = 2L; val avgdl = 4.0
    def expected(tf: Double, dl: Double) =
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(r(0).getDouble(2) - expected(2, 4)) < 1e-12)
    assert(r(1).getDouble(2) == 0.0) // no term hits
    assert(math.abs(r(2).getDouble(2) - expected(1, 4)) < 1e-12)
    assert(r(0).getDouble(2) > r(2).getDouble(2)) // higher tf, same length
  }

  test("Lines.c4Clean: line keep rules and page drop rules") {
    val pages = Seq(
      (1L, "Good first sentence with words.\nshort.\nno terminal punctuation here at all\n" +
        "A second proper sentence right here!\nA third proper sentence also here?"),
      (2L, "Only one good sentence in this page.\nmeh\nnope"), // < 3 kept → dropped
      (3L, "Has lorem ipsum somewhere in it.\nA second proper sentence right here!\n" +
        "A third proper sentence also here?"),                 // lorem ipsum → dropped
      (4L, "Contains a { brace marker here.\nA second proper sentence right here!\n" +
        "A third proper sentence also here?")                  // brace → dropped
    ).toDF("doc_id", "t")
    val r = Lines.c4Clean(pages, "doc_id", "t").orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L))
    assert(r.head.getLong(2) == 3L) // short + unpunctuated lines removed
    assert(r.head.getString(1) ==
      "Good first sentence with words.\nA second proper sentence right here!\n" +
        "A third proper sentence also here?")
  }

  test("LangModel.bigramScore: stupid backoff — first/bigram/backoff branches exact") {
    // train: "a b a b", "a c" → uni a:3 b:2 c:1, N=6; bi (a,b):2 (b,a):1 (a,c):1
    val train = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val uni = LangModel.unigramTrain(train, "text")
    val bi = LangModel.bigramTrain(train, "text")
    // score "b c": 'b' first → ln(2/6); 'c' after 'b' → bigram (b,c) unseen
    // → backoff ln(0.4 · 1/6)
    val scored = LangModel.bigramScore(
        Seq((9L, "b c")).toDF("doc_id", "text"), "doc_id", "text", uni, bi)
      .head()
    val expected = (math.log(2.0 / 6) + math.log(0.4 * 1.0 / 6)) / 2
    assert(scored.getAs[Long]("n_tok") == 2L)
    assert(math.abs(scored.getAs[Double]("avg_logscore") - expected) < 1e-12)
    // observed-bigram branch: "a c" scores ln(3/6) + ln(c2(a,c)/c(a)) = ln(1/3)
    val ac = LangModel.bigramScore(
        Seq((8L, "a c")).toDF("doc_id", "text"), "doc_id", "text", uni, bi).head()
    val expAc = (math.log(3.0 / 6) + math.log(1.0 / 3)) / 2
    assert(math.abs(ac.getAs[Double]("avg_logscore") - expAc) < 1e-12)
    // OOV tokens drop in the vocabulary join
    val oov = LangModel.bigramScore(
        Seq((7L, "z a")).toDF("doc_id", "text"), "doc_id", "text", uni, bi).head()
    assert(oov.getAs[Long]("n_tok") == 1L)
  }

  test("LangModel.importanceWeights + gumbelTopK: target affinity and deterministic sampling") {
    val docs = Seq(
      (1L, "en", "alpha beta alpha beta"),
      (2L, "en", "alpha beta gamma"),
      (3L, "de", "delta epsilon delta"),
      (4L, "de", "zeta eta theta")
    ).toDF("doc_id", "lang", "text")
    val tLm = LangModel.unigramTrain(docs.filter(col("lang") === "en"), "text")
    val rLm = LangModel.unigramTrain(docs, "text")
    val w = LangModel.importanceWeights(docs, "doc_id", "text", tLm, rLm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // target-looking docs score above raw-only docs
    assert(w(1L) > 0 && w(2L) > 0 && w(3L) < w(1L) && w(4L) < w(1L))
    // gumbel selection: deterministic under repartitioning, k respected,
    // and an overwhelming weight always selected
    val wdf = LangModel.importanceWeights(docs, "doc_id", "text", tLm, rLm)
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .withColumn("weight", when(col("doc_id") === 1L, lit(1000.0)).otherwise(col("weight")))
    val s1 = LangModel.gumbelTopK(wdf, "doc_id", "text", "weight", k = 2)
      .collect().map(_.getLong(0)).toSeq
    val s2 = LangModel.gumbelTopK(wdf.repartition(5), "doc_id", "text", "weight", k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2 && s1.length == 2 && s1.head == 1L)
  }

  test("LangModel.bpePairCounts: exact adjacent-pair frequencies, no cross-doc pairs") {
    val df = Seq("ab ab cd", "ab ab", "x").toDF("t")
    val counts = LangModel.bpePairCounts(df, "t")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // doc1: (ab,ab),(ab,cd); doc2: (ab,ab); doc3: no pairs
    assert(counts == Map(("ab", "ab") -> 2L, ("ab", "cd") -> 1L))
  }

  test("HeavyHitters: SpaceSaving invariants under random streams and merge trees") {
    import graft.functions.HeavyHitters
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val capacity = 2 + rnd.nextInt(15)
      val agg = new HeavyHitters.SpaceSavingTopK(capacity)
      val n = 200 + rnd.nextInt(800)
      // skewed stream: quadratic transform concentrates mass on low ids
      val words = Seq.fill(n)("w" + (math.pow(rnd.nextDouble(), 2) * 30).toInt)
      val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // random partials, reduced independently, merged in arrival order
      val parts = words.grouped(math.max(1, n / (1 + rnd.nextInt(8)))).toSeq
      val bufs = parts.map(_.foldLeft(agg.zero)((b, w) => agg.reduce(b, w)))
      val hits = agg.finish(bufs.reduce((a, b) => agg.merge(a, b)))
      assert(hits.size <= capacity)
      // per-entry bound: true count always inside [reported − err, reported]
      hits.foreach { h =>
        val t = truth(h.term)
        assert(h.count >= t && h.count - h.err <= t,
          s"cap=$capacity ${h.term}: reported ${h.count}±${h.err} vs true $t")
      }
      // mergeable-summaries retention: clearly-heavy items survive trims
      truth.filter(_._2 > 2.0 * n / capacity).keys.foreach { t =>
        assert(hits.exists(_.term == t), s"cap=$capacity heavy '$t' (${truth(t)}) missing")
      }
    }
  }

  test("HeavyHitters: merge floors add — multi-way merges keep true ≤ reported") {
    import graft.functions.HeavyHitters
    // Minimal counterexample for the max-floor merge: three partials at
    // capacity 3 whose summaries share key sets. Each [x,a,b,c,d,e] partial
    // evicts under pressure and ends with floor > 0; merging them with
    // floor = max(f1, f2) (instead of f1 + f2) understates the absent-side
    // contribution for x in the later merge, dropping reported(x) below its
    // true count of 7 and violating the summary's upper-bound guarantee.
    val agg = new HeavyHitters.SpaceSavingTopK(3)
    val streams = Seq(
      Seq("x", "a", "b", "c", "d", "e"),
      Seq("x", "a", "b", "c", "d", "e"),
      Seq("x", "x", "x", "x", "x"))
    val truth = streams.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // all left-fold orders and a balanced tree, to pin associativity too
    val merged = Seq(
      streams.map(_.foldLeft(agg.zero)(agg.reduce)).reduceLeft(agg.merge),
      streams.reverse.map(_.foldLeft(agg.zero)(agg.reduce)).reduceLeft(agg.merge))
    merged.foreach { buf =>
      agg.finish(buf).foreach { h =>
        val t = truth(h.term)
        assert(h.count >= t && h.count - h.err <= t,
          s"${h.term}: reported ${h.count}±${h.err} vs true $t")
      }
    }
    // random multi-way merges over a shared small vocabulary: every partial
    // sees every key, so trims cannot mask a floor understatement
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 40) {
      val capacity = 2 + rnd.nextInt(4)
      val a2 = new HeavyHitters.SpaceSavingTopK(capacity)
      val vocab = (0 until capacity + 3).map("k" + _)
      val parts = Seq.fill(3 + rnd.nextInt(4)) {
        Seq.fill(10 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      }
      val truth2 = parts.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val hits = a2.finish(parts.map(_.foldLeft(a2.zero)(a2.reduce)).reduceLeft(a2.merge))
      hits.foreach { h =>
        val t = truth2(h.term)
        assert(h.count >= t && h.count - h.err <= t,
          s"cap=$capacity ${h.term}: reported ${h.count}±${h.err} vs true $t")
      }
    }
  }

  test("HeavyHitters: exact under capacity, bounded + containing the hot key over it") {
    import graft.functions.HeavyHitters
    // 60×"a", 30×"b", 10×"c", singletons d..k
    val words = Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("c") ++
      ('d' to 'k').map(_.toString)
    val df = scala.util.Random.shuffle(words).toDF("w")
    val exact = df.groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // capacity above distinct count: every count exact, err 0
    val full = df.agg(HeavyHitters.topK(64)(col("w")).as("s"))
      .select(explode(col("s")).as("h")).select(col("h.term"), col("h.count"), col("h.err"))
      .collect()
    assert(full.length == exact.size)
    assert(full.forall(r => r.getLong(2) == 0L && r.getLong(1) == exact(r.getString(0))))
    // capacity below distinct count: summary stays bounded, the dominant
    // key survives with its true count within the reported error bound
    val tight = df.repartition(1).agg(HeavyHitters.topK(4)(col("w")).as("s"))
      .select(explode(col("s")).as("h")).select(col("h.term"), col("h.count"), col("h.err"))
      .collect()
    assert(tight.length <= 4)
    val a = tight.find(_.getString(0) == "a").get
    assert(a.getLong(1) >= 60L && a.getLong(1) - a.getLong(2) <= 60L)
    // multi-partition + trim regime: the floor bound must keep EVERY
    // reported entry inside [count − err, count] across merge trees, and
    // the dominant key (true count > N/capacity) must survive the trims
    val multi = df.repartition(8).agg(HeavyHitters.topK(4)(col("w")).as("s"))
      .select(explode(col("s")).as("h"))
      .select(col("h.term"), col("h.count"), col("h.err")).collect()
    assert(multi.length <= 4)
    multi.foreach { r =>
      val t = exact(r.getString(0))
      assert(r.getLong(1) >= t && r.getLong(1) - r.getLong(2) <= t,
        s"${r.getString(0)}: reported ${r.getLong(1)}±${r.getLong(2)} vs true $t")
    }
    assert(multi.exists(_.getString(0) == "a"))
    // SQL surface: registered aggregate is usable from stage SQL
    HeavyHitters.register(spark, 64)
    df.createOrReplaceTempView("hh_words")
    assert(spark.sql("SELECT size(approx_top_terms(w)) FROM hh_words")
      .head().getInt(0) == exact.size)
  }

  test("Quality: LR classifier separates an obvious corpus; buckets are md5-derived") {
    import graft.ops.Quality
    // two clearly separable vocabularies with a deterministic label
    val rnd = new scala.util.Random(3)
    val docs = (0 until 120).map { i =>
      val good = i % 2 == 0
      val vocab = if (good) Seq("clean", "prose", "article", "writing")
                  else Seq("zz9", "spamword", "clickbait", "garbage")
      (i.toLong, Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        if (good) 1 else 0)
    }
    val df = docs.toDF("doc_id", "text", "label")
    val model = Quality.train(df, "text", "label", nFeatures = 32)
    assert(model.coefficients.length == 32)
    val scored = Quality.score(df, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.foreach { case (id, _, label) =>
      val p = scored(id)
      assert(if (label == 1) p > 0.5 else p < 0.5, s"doc $id label $label p $p")
    }
    // bucket = first 8 md5 hex digits mod nFeatures (the oracle's contract)
    val b = df.select(Quality.featureBucket(lit("clean"), 32)).head().getLong(0)
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("clean".getBytes("UTF-8")).take(4)
      .foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))
    assert(b == md5hex % 32, s"bucket $b vs ${md5hex % 32}")
  }

  test("Quality: native HashedBow matches the composed featureBucket form") {
    import graft.functions.{HashedBow, Text}
    val texts = Seq("the quick brown fox", "héllo wörld héllo", "", "a a a b",
      "emoji 😀 token mix 123").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
    val n = 16
    val composed = transform(sequence(lit(0), lit(n - 1)), i =>
      size(filter(transform(Text.words(col("text")),
        w => Quality.featureBucket(w, n)), b => b === i)).cast("double"))
    val rows = df.select(col("id"), HashedBow(Text.words(col("text")), n).as("nat"),
      composed.as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](2), s"row ${r.getLong(0)}")
    }
  }

  test("Sampling.temperatureMix: alpha-flattened quotas, exact counts, determinism") {
    import graft.ops.Sampling
    // three domains with very different sizes + a null-domain row
    val rows = (0 until 800).map(i => (i.toLong, s"text body $i", "big")) ++
      (800 until 900).map(i => (i.toLong, s"text body $i", "mid")) ++
      (900 until 910).map(i => (i.toLong, s"text body $i", "small")) :+
      ((910L, "orphan", null: String))
    val df = rows.toDF("doc_id", "text", "domain")

    // alpha = 1: natural proportions; alpha = 0: equal quotas
    val q1 = Sampling.temperatureQuotas(df, "domain", alpha = 1.0, budget = 91L)
    assert(q1 == Map("big" -> 80L, "mid" -> 10L, "small" -> 1L), q1.toString)
    val q0 = Sampling.temperatureQuotas(df, "domain", alpha = 0.0, budget = 30L)
    assert(q0 == Map("big" -> 10L, "mid" -> 10L, "small" -> 10L), q0.toString)
    // quota caps at domain size (never upsample beyond n_d)
    val qBig = Sampling.temperatureQuotas(df, "domain", alpha = 0.0, budget = 600L)
    assert(qBig("small") == 10L, qBig.toString)

    // the draw honors quotas exactly, drops null domains, reproduces
    val s1 = Sampling.temperatureMix(df, "doc_id", "text", "domain", 0.5, 100L)
    val got = s1.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = Sampling.temperatureQuotas(df, "domain", 0.5, 100L)
    assert(got == expect, s"got $got expect $expect")
    val again = Sampling.temperatureMix(df, "doc_id", "text", "domain", 0.5, 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == s1.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("Spans.dupSpans matches a brute-force duplicated-window span scan") {
    import graft.ops.Spans
    // doc 0 and 1 share an exact 34-char block mid-document; doc 2 repeats
    // a 25-char block within itself; doc 3 is clean; doc 4 too short
    val shared = "the quick brown fox jumps over it"
    val inner = "repeat me repeat me again"
    val docs = Seq(
      (0L, s"unique preamble zero. $shared. unique tail zero."),
      (1L, s"different lead-in one... $shared. other ending."),
      (2L, s"$inner -- filler filler filler -- $inner"),
      (3L, "entirely original text with no duplication at all, long enough."),
      (4L, "short")).toDF("doc_id", "text")
    val n = 20
    val got = Spans.dupSpans(docs, "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // brute force: count every lowercased n-gram corpus-wide, mark
    // positions whose window recurs, merge runs with gap <= n
    val texts = Seq((0L, s"unique preamble zero. $shared. unique tail zero."),
      (1L, s"different lead-in one... $shared. other ending."),
      (2L, s"$inner -- filler filler filler -- $inner"),
      (3L, "entirely original text with no duplication at all, long enough."),
      (4L, "short")).map { case (id, t) => (id, t.toLowerCase) }
    val counts = scala.collection.mutable.Map.empty[String, Int]
    texts.foreach { case (_, t) =>
      (0 to t.length - n).foreach(i => counts(t.substring(i, i + n)) =
        counts.getOrElse(t.substring(i, i + n), 0) + 1)
    }
    val expected = texts.flatMap { case (id, t) =>
      val marked = (0 to t.length - n).filter(i => counts(t.substring(i, i + n)) >= 2)
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      marked.foreach { p =>
        spans.lastOption match {
          case Some((s0, e0, k)) if p <= e0 - (n - 1) + n =>
            spans(spans.size - 1) = (s0, p + n - 1, k + 1)
          case _ => spans += ((p, p + n - 1, 1))
        }
      }
      spans.map { case (s0, e0, k) => (id, s0 + 1L, e0 + 1L, k.toLong) }
    }.toSet
    assert(expected.nonEmpty && expected.exists(_._1 == 2L)) // within-doc repeat found
    assert(got == expected, s"got ${got.toSeq.sorted} expected ${expected.toSeq.sorted}")
  }

  test("Spans: keepFirst + removeSpans deduplicates, keeping one copy") {
    import graft.ops.Spans
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (0L, s"alpha opening words here. $shared. alpha closing words."),
      (1L, s"beta different opening.. $shared. beta other close."),
      (2L, "gamma has nothing repeated anywhere in this corpus at all."),
      (3L, "tiny")).toDF("doc_id", "text")
    val lc = docs.select(col("doc_id"), lower(col("text")).as("text"))
    val spans = Spans.dupSpans(lc, "doc_id", "text", n = 20, keepFirst = true)
    val spanRows = spans.collect()
    // only the non-canonical holder (doc 1) gets a span
    assert(spanRows.forall(_.getLong(0) == 1L), spanRows.mkString(", "))
    assert(spanRows.nonEmpty)

    val cleaned = Spans.removeSpans(lc, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cleaned(0L)._1.contains(shared) && cleaned(0L)._2 == 0L)
    assert(!cleaned(1L)._1.contains(shared) && cleaned(1L)._2 > 0L)
    // untouched docs round-trip byte-identically
    assert(cleaned(2L)._1 == "gamma has nothing repeated anywhere in this corpus at all.")
    assert(cleaned(2L)._2 == 0L && cleaned(3L)._2 == 0L)
    // n_removed is exactly the length delta
    val lens = lc.collect().map(r => r.getLong(0) -> r.getString(1).length).toMap
    cleaned.foreach { case (id, (t2, nr)) => assert(lens(id) - t2.length == nr) }
  }

  test("Ann.semanticPairs: mega-cell cap excludes degenerate clusters from pair mining") {
    val rnd = new scala.util.Random(41)
    // 40 near-identical vectors around one center (the mega-cell) + a
    // small tight pair at the other
    val rows = (1L to 40L).map(i => (i, Seq.fill(8)(5.0 + rnd.nextGaussian() * 0.001))) ++
      Seq((101L, Seq.fill(8)(-5.0)), (102L, Seq.fill(8)(-5.001)))
    val emb = rows.toDF("id", "v")
    val index = Ann.ivfBuild(emb, "id", "v", nlist = 2, maxTrainVectors = 100)
    val capped = Ann.semanticPairs(index, threshold = 0.999, maxCellSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 40-vector cell is over the cap: none of its ~780 pairs emitted;
    // the small cell's pair survives
    assert(capped == Set((101L, 102L)), capped.take(5))
    val uncapped = Ann.semanticPairs(index, threshold = 0.999, maxCellSize = None).count()
    assert(uncapped > 700)
  }

  test("Multimodal: featurize plumbing — schema, frame counts, content hash") {
    val r = Multimodal.featurize(docs.filter(col("doc_id") === 1), "doc_id", "text").head()
    assert(r.getAs[String]("format") == "text/utf-8")
    val nBytes = r.getAs[Int]("n_bytes")
    assert(nBytes == "the quick brown fox jumps over the lazy dog".length)
    assert(r.getAs[Int]("n_frames") == 1) // short payload: single truncated frame
    val features = r.getAs[org.apache.spark.sql.Row]("features")
    assert(features.getAs[String]("content_hash").matches("[0-9a-f]{32}"))
  }

  test("Multimodal: frameSample yields ceil-style chunk counts on big payloads") {
    val df = Seq(("x" * 1000)).toDF("t").select(encode(col("t"), "UTF-8").as("b"))
    val n = df.select(Multimodal.frameCount(col("b"), 256, 128)).head().getInt(0)
    assert(n == (1000 - 256) / 128 + 1)
  }

  test("Multimodal: real PNG decode — dimensions, luminance, resize round-trip") {
    // synthesize real PNGs with the JDK encoder: a dark one and a bright one
    def png(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (0L, png(120, 80, 40)), (1L, png(33, 200, 220)),
      (2L, "not an image at all".getBytes("UTF-8")))
    val df = rows.toDF("id", "data")

    val feats = Multimodal.decodeImageFeatures(df, "id", "data")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getInt(2), r.getInt(3), r.getDouble(4))).toMap
    assert(feats(0L) == ((true, 120, 80, 40.0)))
    assert(feats(1L) == ((true, 33, 200, 220.0)))
    assert(feats(2L)._1 == false) // junk bytes: flagged, never a crash

    val thumbs = Multimodal.resizeImages(df, "id", "data", maxDim = 32)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getAs[Array[Byte]](2), r.getInt(3), r.getInt(4))).toMap
    assert(thumbs(0L)._3 == 32 && thumbs(0L)._4 == 21) // 120x80 -> 32x21
    assert(thumbs(1L)._3 == 5 && thumbs(1L)._4 == 32)  // 33x200 -> 5x32
    assert(!thumbs(2L)._1 && thumbs(2L)._2.isEmpty)
    // the thumbnail is itself a decodable PNG with the claimed dimensions
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(thumbs(0L)._2))
    assert(back.getWidth == 32 && back.getHeight == 21)
  }

  test("Multimodal: lossless WebP decodes through features, resize, and phash (r10)") {
    val w = 40; val h = 30
    val px = Array.tabulate(w * h) { j =>
      val g = ((j % w) * 6 + (j / w) * 4) % 256
      (0xff << 24) | (g << 16) | (g << 8) | g
    }
    val webp = Vp8lEncoder.encode(w, h, px, subtractGreen = true)
    val df = Seq((7L, webp)).toDF("id", "data")
    val f = Multimodal.decodeImageFeatures(df, "id", "data").head()
    assert(f.getBoolean(1) && f.getInt(2) == w && f.getInt(3) == h)
    val expectMean = px.map(p => (p >> 8) & 0xff).sum.toDouble / (w * h)
    assert(math.abs(f.getDouble(4) - expectMean) < 1e-9) // gray: luma == g
    val t = Multimodal.resizeImages(df, "id", "data", maxDim = 16).head()
    assert(t.getBoolean(1) && t.getInt(3) == 16 && t.getInt(4) == 12)
    val ph = Multimodal.perceptualHash(df, "id", "data").head()
    assert(!ph.isNullAt(1))
  }

  test("Multimodal: perceptual hash clusters visual near-dups, separates distinct images") {
    def gradientPng(seed: Int, noise: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { y =>
        (0 until 64).foreach { x =>
          val v = ((x + y) * 2) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      // flip a handful of random pixels — survives 8x8 averaging
      (0 until noise).foreach { _ =>
        img.setRGB(rnd.nextInt(64), rnd.nextInt(64), 0xffffff)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def checkerPng(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { y =>
        (0 until 64).foreach { x =>
          img.setRGB(x, y, if (((x / 8) + (y / 8)) % 2 == 0) 0xffffff else 0)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq(
      (0L, gradientPng(1, 0)), (1L, gradientPng(2, 12)),   // visual near-dups
      (2L, checkerPng()),                                  // structurally different
      (3L, "junk".getBytes("UTF-8"))).toDF("id", "data")   // undecodable
    val pairs = Multimodal.imageNearDupPairs(df, "id", "data", maxDistance = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), pairs.toString)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.toString)
  }

  test("Multimodal: audio fingerprint clusters noisy copies, separates different envelopes") {
    // amplitude-modulated sine: the envelope pattern IS the identity
    def wav(pattern: IndexedSeq[Double], noiseSeed: Int, noise: Double): Array[Byte] = {
      val rnd = new scala.util.Random(noiseSeed)
      val sr = 8000f
      val n = 8000
      val pcm = new Array[Byte](n * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach { i =>
        val amp = pattern(i * pattern.size / n) * 0.8
        val s = math.sin(2 * math.Pi * 440 * i / sr) * amp +
          rnd.nextGaussian() * noise
        bb.putShort((math.max(-1, math.min(1, s)) * 32767).toShort)
      }
      val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rampUp = (0 until 64).map(i => 0.2 + 0.8 * i / 63.0)
    val rampDown = rampUp.reverse
    val df = Seq(
      (0L, wav(rampUp, 1, 0.0)), (1L, wav(rampUp, 2, 0.01)), // same envelope ± noise
      (2L, wav(rampDown, 3, 0.0)),                            // different envelope
      (3L, "not audio".getBytes("UTF-8"))).toDF("id", "data")
    val pairs = Multimodal.audioNearDupPairs(df, "id", "data", maxDistance = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), pairs.toString)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.toString)
  }

  test("Multimodal: real WAV decode — format, duration, RMS of a sine") {
    // synthesize a 440 Hz sine, 16-bit mono PCM, 8 kHz, 0.5 s
    val sr = 8000f
    val n = 4000
    val pcm = new Array[Byte](n * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach { i =>
      bb.putShort((math.sin(2 * math.Pi * 440 * i / sr) * 16384).toShort)
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val df = Seq((7L, bos.toByteArray), (8L, Array[Byte](1, 2, 3))).toDF("id", "data")

    val r = Multimodal.decodeAudioFeatures(df, "id", "data")
      .collect().map(x => x.getLong(0) -> x).toMap
    val good = r(7L)
    assert(good.getBoolean(1) && good.getDouble(2) == 8000.0)
    assert(good.getInt(3) == 1 && good.getLong(4) == 4000L)
    assert(good.getLong(5) == 500L)
    // RMS of a 0.5-amplitude sine = 0.5/sqrt(2) ~ 0.3536
    assert(math.abs(good.getDouble(6) - 0.3536) < 0.01, good.getDouble(6).toString)
    assert(!r(8L).getBoolean(1))
  }

  test("JsonUdfs: unnest_json_array semantics (custom_udfs.rs:72-162)") {
    assert(JsonUdfs.unnestJsonArray("""["a", 1, {"k": 2}, [3]]""") ==
      Seq("a", "1", """{"k":2}""", "[3]"))
    assert(JsonUdfs.unnestJsonArray(null) == null)
    assertThrows[IllegalArgumentException](JsonUdfs.unnestJsonArray("""{"not": "array"}"""))
    assertThrows[IllegalArgumentException](JsonUdfs.unnestJsonArray("not json"))
  }

  test("JsonUdfs: alias pack navigates nested paths in SQL") {
    JsonUdfs.register(spark)
    val r = spark.sql(
      """SELECT json_get_int(j, 'a.b') AS i, json_get_str(j, 'c[1]') AS s,
                json_contains(j, 'a') AS has_a, json_contains(j, 'zz') AS has_zz,
                json_length(j, 'c') AS len, json_object_keys(j, '') AS keys,
                json_get_float(j, 'f') AS f, json_get_bool(j, 'g') AS g
         FROM VALUES ('{"a": {"b": 7}, "c": ["x", "y"], "f": 1.5, "g": true}') AS t(j)""").head()
    assert(r.getLong(0) == 7L && r.getString(1) == "y")
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getInt(4) == 2)
    assert(r.getSeq[String](5) == Seq("a", "c", "f", "g"))
    assert(r.getDouble(6) == 1.5 && r.getBoolean(7))
    val arr = spark.sql("""SELECT unnest_json_array('[1, "two"]') AS a""").head().getSeq[String](0)
    assert(arr == Seq("1", "two"))
  }

  test("Dedup.editDistancePairs equals the quadratic levenshtein ground truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val alphabet = "abcde"
    def mutate(s: String, edits: Int): String = {
      var out = s
      (1 to edits).foreach { _ =>
        val i = rnd.nextInt(math.max(out.length, 1))
        rnd.nextInt(3) match {
          case 0 if out.nonEmpty => out = out.updated(i, alphabet(rnd.nextInt(5))) // sub
          case 1 => out = out.take(i) + alphabet(rnd.nextInt(5)) + out.drop(i)     // ins
          case _ if out.length > 4 => out = out.take(i) + out.drop(i + 1)          // del
          case _ => ()
        }
      }
      out
    }
    val bases = (1 to 40).map(_ => (1 to 12).map(_ => alphabet(rnd.nextInt(5))).mkString)
    // the short stratum (len <= q*(maxDist+1)-1 = 8 here) exercises the
    // length-banded fallback: sub-q strings with no grams at all, plus the
    // adversarial zero-shared-gram pairs the gram path provably cannot see
    // ("abc"/"abd" at distance 1 share no 3-gram; "abcde"/"abxde" likewise)
    val shorts = Seq((9000L, ""), (9001L, "a"), (9002L, "ab"), (9003L, "ae"),
      (9004L, "abcd"), (9005L, "abc"), (9006L, "abd"),
      (9007L, "abcde"), (9008L, "abxde"), (9009L, "vwxyzuvw"))
    val strs = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((i * 10L, b), (i * 10L + 1, mutate(b, 1)), (i * 10L + 2, mutate(b, 3)))
    } ++ shorts
    val df = strs.toDF("id", "s")
    val fast = Dedup.editDistancePairs(df, "id", "s", maxDist = 2, q = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val truth = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = graft.TestLev.dist(sa, sb) if d <= 2
    } yield ((ia, ib), d)).toMap
    assert(fast == truth, s"missing=${(truth.keySet -- fast.keySet).take(5)} " +
      s"extra=${(fast.keySet -- truth.keySet).take(5)}")
    assert(truth.nonEmpty, "ground truth vacuous")
    // the fallback found cross-stratum pairs (sub-q vs >= q) too
    val byId = strs.toMap
    assert(truth.keys.exists { case (a, b) =>
      (byId(a).length < 3) ^ (byId(b).length < 3) })
  }
}
