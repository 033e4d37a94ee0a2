package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, Sampling, TextFunctions}
import graft.ml.Similarity
import graft.multimodal.Multimodal

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("token counting and normalization") {
    val df = Seq("  Hello,  World! ", "", "one two three").toDF("text")
    val counts = df.select(TextFunctions.tokenCount(col("text"))).as[Int].collect().toSeq
    assert(counts == Seq(2, 0, 3))
    val norm = df.select(TextFunctions.normalize(col("text"))).as[String].collect().head
    assert(norm == "hello world")
  }

  test("unicode normalization: NFC composes, NFKC expands compatibility forms, ASCII untouched") {
    // "cafe" + combining acute; ligature fi; pure ASCII; null
    val df = Seq(Some("café"), Some("ﬁsh"), Some("plain"), None).toDF("text")
    val nfc = df.select(TextFunctions.unicodeNormalize(col("text")).as("n"))
      .as[Option[String]].collect().toSeq
    assert(nfc == Seq(Some("caf\u00e9"), Some("\uFB01sh"), Some("plain"), None))
    val nfkc = df.select(TextFunctions.unicodeNormalize(col("text"), "NFKC").as("n"))
      .as[Option[String]].collect().toSeq
    assert(nfkc == Seq(Some("caf\u00e9"), Some("fish"), Some("plain"), None))
    // idempotent: normalizing twice is the identity on the first pass's output
    val twice = df.select(
      TextFunctions.unicodeNormalize(TextFunctions.unicodeNormalize(col("text"))).as("n"))
      .as[Option[String]].collect().toSeq
    assert(twice == nfc)
    // an unknown form fails at analysis, not mid-job
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(TextFunctions.unicodeNormalize(col("text"), "NFX")).collect()
    }
    // SQL registration path
    val viaSql = spark.sql("SELECT unicode_normalize('café', 'NFC')").as[String].head()
    assert(viaSql == "café")
  }

  test("BPE training: hand-checked merges on the classic low/lower/lowest corpus") {
    import graft.text.Bpe
    val corpus = Seq("low low low", "lower lowest").toDF("text")
    val merges = Bpe.trainMerges(corpus, "text", numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // (l,o) and (o,w) tie at 5 → lexicographic picks (l,o); then (lo,w)=5;
    // then (low,e)=2; every remaining pair is a singleton → early stop
    assert(merges == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "low", "e", 2L)))

    // greedy overlap through the DataFrame path: aaaa + rule (a,a) → [aa, aa]
    import org.apache.spark.sql.graft.ExprColumn
    val syms = Seq(Seq("a", "a", "a", "a")).toDF("syms")
    val out = syms.select(ExprColumn(
      graft.plans.MergeAdjacentPair(ExprColumn.expr(col("syms")), "a", "a")).as("m"))
      .as[Seq[String]].head()
    assert(out == Seq("aa", "aa"))

    // empty corpus degrades to zero rules, not a crash
    assert(Bpe.trainMerges(corpus.filter(lit(false)), "text", 3).count() == 0)

    // the distributed path (threshold 0 forces it) learns identical rules
    val distributed = Bpe.trainMerges(corpus, "text", 10, localVocabThreshold = 0L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(distributed == merges, "local and distributed training must coincide")

    // encoding applies the learned rules in rank order, per word
    val enc = Bpe.encode(corpus, "text", Seq(("l", "o"), ("lo", "w"), ("low", "e")))
      .select(col("text"), col("bpe_tokens"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(enc("low low low") == Seq("low", "low", "low"))
    assert(enc("lower lowest") == Seq("lowe", "r", "lowe", "s", "t"))
    // no rules → plain character split
    assert(Bpe.encode(corpus, "text", Nil)
      .select(col("bpe_tokens")).as[Seq[String]].head().take(3) == Seq("l", "o", "w"))
  }

  test("BPE encode: fused expression is bit-equal to the composed spelling") {
    import graft.text.Bpe
    // real corpus slice + adversarial rows: supplementary code points (one
    // 𝄞 is TWO chars but ONE '.' match), repeated-merge overlap, unicode
    // that normalize() touches, empties
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(200)
      .union(Seq(
        "a𝄞a𝄞 aaaa aaa", "low lower lowest", "", "  ", "café café",
        "x" * 300, "ab ab ab ba").toDF("text"))
    val merges = Seq(("a", "a"), ("aa", "a"), ("e", "r"), ("l", "o"),
      ("lo", "w"), ("a", "b"), ("c", "a"), ("ca", "f"))
    val fused = Bpe.encode(docs, "text", merges)
      .select(col("bpe_tokens")).as[Seq[String]].collect().toSeq
    val composed = Bpe.encodeComposed(docs, "text", merges)
      .select(col("bpe_tokens")).as[Seq[String]].collect().toSeq
    assert(fused == composed)
    // interpreted path (eval) agrees with the codegen'd projection too
    import org.apache.spark.sql.graft.ExprColumn
    val words = Seq(Seq("aaa", "ab"), Seq.empty[String]).toDF("words")
    def run(): Seq[Seq[String]] = words.select(ExprColumn(
        graft.plans.BpeEncodeWords(ExprColumn.expr(col("words")), merges)).as("t"))
      .as[Seq[String]].collect().toSeq
    val viaCodegen = run()
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode").getOrElse("FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == viaCodegen)
    finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    assert(viaCodegen == Seq(Seq("aaa", "ab"), Seq.empty[String]))
    // null word nulls the document (flatten-of-null contract)
    val withNull = Seq(1).toDF("i").select(
      array(lit("ab"), lit(null).cast("string")).as("words"))
    assert(withNull.select(ExprColumn(
        graft.plans.BpeEncodeWords(ExprColumn.expr(col("words")), merges)).as("t"))
      .collect().head.isNullAt(0))
  }

  test("inverted index: capped postings, uncapped doc_freq, id order") {
    val d = Seq(
      (1L, "apple banana"), (2L, "apple"), (3L, "apple banana"),
      (4L, "apple"), (5L, "apple apple")).toDF("doc_id", "text")
    val idx = TextFunctions.invertedIndex(d, "doc_id", "text", maxPostings = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(idx("apple") == ((5L, "1,2,3")), "doc_freq stays uncapped; postings cap at 3 in id order")
    assert(idx("banana") == ((2L, "1,3")))
    // repeated token in one doc counts once (distinct per doc)
    assert(idx.size == 2)
  }

  test("temperature sampling keeps the rarest stratum whole and sqrt-downsamples the rest") {
    val d = ((1L to 900L).map(i => (i, "en")) ++ (901L to 1000L).map(i => (i, "sw")))
      .toDF("doc_id", "lang")
    val kept = Sampling.temperatureSample(d, "doc_id", "lang", seed = "t")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("sw") == 100L, "rarest stratum rate is exactly 1.0")
    // en rate = sqrt(100/900) = 1/3 → ~300 kept (hash Bernoulli, loose bounds)
    assert(kept("en") > 240 && kept("en") < 360, s"en kept ${kept("en")}")
    assert(Sampling.temperatureSample(d.filter(lit(false)), "doc_id", "lang").count() == 0)
  }

  test("capPerGroup keeps a deterministic quota per group") {
    val d = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val capped = Sampling.capPerGroup(d, Seq("grp"), 5, Seq(col("id").desc))
    val byGrp = capped.collect().groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).sorted.toSeq)
    assert(byGrp.values.forall(_.size == 5))
    // desc order: group g0 holds the 5 largest multiples of 3
    assert(byGrp("g0") == Seq(87L, 90L, 93L, 96L, 99L))
    // groups smaller than the cap survive whole
    assert(Sampling.capPerGroup(d.filter($"id" <= 4), Seq("grp"), 5, Seq(col("id"))).count() == 4)
    intercept[IllegalArgumentException] {
      Sampling.capPerGroup(d, Seq("grp"), 5, Nil)
    }
  }

  test("shingles") {
    val df = Seq("a b c d").toDF("text")
    val ws = df.select(TextFunctions.wordShingles(col("text"), 2)).as[Seq[String]].head()
    assert(ws == Seq("a b", "b c", "c d"))
    val short = Seq("a b").toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 3)).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("stopword / punctuation ratios and quality score bounds") {
    val df = Seq("the cat and the dog", "??? !!! ...").toDF("text")
    val sr = df.select(TextFunctions.stopwordRatio(col("text"))).as[Double].collect()
    assert(math.abs(sr(0) - 0.6) < 1e-9)
    assert(sr(1) == 0.0)
    val q = df.select(TextFunctions.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("codeSwitchStats: segment-level langs, und ignored, empty doc drops, window math") {
    val en = "the cat and the dog is that it was with for"   // 11 tokens, english
    val fr = "le chien et le chat est dans que un des"       // 10 tokens, french
    val docs = Seq(
      (1L, en + " " + fr),  // 21 tokens → segs of 12: [en*11+le] + [fr rest] → en,fr
      (2L, en),             // 11 tokens → one english segment
      (3L, "zz qq ww"),     // no profile hit → und only, n_langs 0
      (4L, "")).toDF("doc_id", "text")
    val out = TextFunctions.codeSwitchStats(docs, "doc_id", "text", segTokens = 12)
      .select("doc_id", "n_segments", "n_langs", "is_code_switched")
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out === Seq(
      (1L, 2L, 2L, true),
      (2L, 1L, 1L, false),
      (3L, 1L, 0L, false))) // doc 4 (empty) produces no segments and drops
  }

  test("language id picks dominant stopword profile") {
    val df = Seq(
      "the cat and the dog is that it was with for",
      "der hund und die katze ist nicht ein mit von",
      "zzz qqq xxx").toDF("text")
    val langs = df.select(TextFunctions.languageId(col("text"))).as[String].collect().toSeq
    assert(langs == Seq("en", "de", "und"))
  }

  test("char shingles and bpe-ish token estimate") {
    val df = Seq("abcd").toDF("text")
    val cs = df.select(TextFunctions.charShingles(col("text"), 2)).as[Seq[String]].head()
    assert(cs == Seq("ab", "bc", "cd"))
    val short = Seq("ab").toDF("text")
      .select(TextFunctions.charShingles(col("text"), 3)).as[Seq[String]].head()
    assert(short == Seq("ab"))
    val bpe = Seq("hello, world! it's 42").toDF("text")
      .select(TextFunctions.bpeishTokenCount(col("text"))).as[Int].head()
    // hello , world ! it ' s 42 → 8 word-piece-ish chunks
    assert(bpe == 8)
  }

  test("repetition stats: dup line fractions and top-ngram char fraction, hand-checked") {
    val df = Seq(
      (1L, "a b\na b\nc d"), // "a b" repeats: dup_line 1/3, dup chars 6/9, top gram "a b" 2*3/11
      (2L, "x y"),           // single line, 2 tokens <= n: one gram covering the text -> frac 1.0
      (3L, ""))              // empty: zeros, row preserved
      .toDF("doc_id", "text")
    val out = TextFunctions.repetitionStats(df, "doc_id", "text", ngram = 2)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1.0 / 3, 6.0 / 9, 6.0 / 11)))
    assert(out(2L) == ((0.0, 0.0, 1.0)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
    // tie-break is deterministic: equal counts resolve to the LARGEST gram
    val tie = Seq((1L, "a b c")).toDF("doc_id", "text") // grams "a b","b c" both cnt 1
    val frac = TextFunctions.repetitionStats(tie, "doc_id", "text", ngram = 2)
      .select("top_ngram_char_frac").head().getDouble(0)
    assert(frac == 3.0 / 5) // "b c" wins over "a b" lexicographically
  }

  test("gopher quality flags: hand-checked metrics and keep conjunction") {
    val df = Seq(
      (1L, "the cat sat\n- bullet line\nwalking on mats..."),
      (2L, "# # #"),
      (3L, ""))
      .toDF("doc_id", "text")
    val out = TextFunctions.gopherQualityFlags(
      df, "doc_id", "text",
      minWords = 5L, maxWords = 100L,
      minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
      maxSymbolWordRatio = 0.2,
      maxBulletLineFrac = 0.5, maxEllipsisLineFrac = 0.5,
      minAlphaWordFrac = 0.8, minStopwordHits = 1L)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 9 words, 36 non-ws chars -> mean 4.0; 1 "..." -> ratio 1/9;
    // 3 lines, 1 bullet, 1 ellipsis; 8/9 alpha ("-" has no letter); "the" -> 1 hit
    val r1 = out(1L)
    assert(r1.getLong(1) == 9L)
    assert(r1.getDouble(2) == 4.0)
    assert(r1.getDouble(3) == 1.0 / 9)
    assert(r1.getDouble(4) == 1.0 / 3)
    assert(r1.getDouble(5) == 1.0 / 3)
    assert(r1.getDouble(6) == 8.0 / 9)
    assert(r1.getLong(7) == 1L)
    assert(r1.getLong(8) == 1L)
    // doc 2: 3 hash words -> symbol ratio 1.0, alpha 0, no stopwords -> drop
    val r2 = out(2L)
    assert(r2.getLong(1) == 3L)
    assert(r2.getDouble(2) == 1.0)
    assert(r2.getDouble(3) == 1.0)
    assert(r2.getDouble(6) == 0.0)
    assert(r2.getLong(8) == 0L)
    // doc 3: empty -> zero everything, word-count rule fails
    val r3 = out(3L)
    assert(r3.getLong(1) == 0L)
    assert(r3.getDouble(2) == 0.0)
    assert(r3.getLong(8) == 0L)
  }

  test("repetitionStats evaluates the tokenize pipeline exactly once (no pushdown duplication)") {
    val df = viaParquet(Seq((1L, "a b\nc d")).toDF("doc_id", "text"))
    val out = TextFunctions.repetitionStats(df, "doc_id", "text")
    // normalize() is the only lower() in the operator; a filter on the
    // projected token column would let pushdown inline it a second time
    assert(graft.plans.PlanChecks.exprOccurrences(out, "lower(") == 1,
      "the normalize pipeline must appear exactly once in the plan")
  }

  test("gopher flags are a zero-shuffle map-side projection over a parquet scan") {
    val df = viaParquet(Seq((1L, "the cat\n- sat")).toDF("doc_id", "text"))
    assert(graft.plans.PlanChecks.shuffleCount(
      TextFunctions.gopherQualityFlags(df, "doc_id", "text")) == 0,
      "gopherQualityFlags must not shuffle")
  }

  test("bm25 scores: hand-computed on a 3-doc corpus; zero-tf docs score exactly 0") {
    val df = Seq((1L, "data table data"), (2L, "table fast"), (3L, "slow code"))
      .toDF("doc_id", "text")
    val out = TextFunctions.bm25Scores(df, "doc_id", "text", Seq("data", "table"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val avgdl = 7.0 / 3 // Σdl=7 over N=3, exact long sum divided once
    def part(tf: Double, dl: Double, dfT: Double) =
      math.log(1 + (3 - dfT + 0.5) / (dfT + 0.5)) *
        tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert(out(1L)._1 == 2L && out(1L)._2 == 1L)
    assert(math.abs(out(1L)._3 - (part(2, 3, 1) + part(1, 3, 2))) < 1e-12)
    assert(math.abs(out(2L)._3 - part(1, 2, 2)) < 1e-12)
    assert(out(3L) == ((0L, 0L, 0.0))) // no query term -> exactly zero
  }

  test("fingerprint is order-insensitive after normalize; rollingHash is order-sensitive") {
    val df = Seq(("a b c", "a b c"), ("a b c", "c b a")).toDF("t1", "t2")
    val fp = df.select(
      (TextFunctions.fingerprint(col("t1")) === TextFunctions.fingerprint(col("t2"))).as("same_fp"),
      (TextFunctions.rollingHash(col("t1")) === TextFunctions.rollingHash(col("t2"))).as("same_rh"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq
    assert(fp(0) == (true, true))
    assert(fp(1) == (false, false))
  }

  test("rollingHashByDoc (codegen form) matches the HOF-fold rollingHash exactly") {
    // doc 5 exceeds 4096 tokens so the mid power table (positions ≥ 4096)
    // is exercised, not just the low one
    val long = (0 until 5000).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"),
      (3L, ""),
      (4L, "one"),
      (5L, long)).toDF("doc_id", "text")
    val folded = df.select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rh"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val byDoc = TextFunctions.rollingHashByDoc(df, Seq("doc_id"), "text", "rh")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(byDoc == folded)
    // ... and the posexplode+power-table aggregate spelling agrees too
    val agg = TextFunctions.rollingHashByDocAgg(df, Seq("doc_id"), "text", "rh")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(agg == folded)
    // map-side: no shuffle in the expression form (parquet-backed: local
    // relations constant-fold and make plan contracts vacuous)
    assert(graft.plans.PlanChecks.shuffleCount(
      TextFunctions.rollingHashByDoc(viaParquet(df), Seq("doc_id"), "text", "rh")) == 0)
  }
  test("char-trigram LM surprisal matches a driver-side integer replay; OOV maxes; short docs survive") {
    import graft.text.TextFunctions
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "cats and dogs together"),
      (4L, "xy"), // shorter than n=3: zero grams
      (5L, "Zebra!! Quartz?")) // grams unseen in training
    val df = corpus.toDF("doc_id", "text")
    val lm = TextFunctions.trainCharLm(df.filter($"doc_id" <= 2), "text")
    val out = TextFunctions.lmSurprisalScores(df, "doc_id", "text", lm)
      .orderBy("doc_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))))
      .toMap

    // driver replay with plain JVM integer arithmetic
    def norm(s: String) =
      s.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
    def grams(s: String) = { val t = norm(s); if (t.length < 3) Nil else (0 to t.length - 3).map(i => t.substring(i, i + 3)) }
    val counts = corpus.filter(_._1 <= 2).flatMap(c => grams(c._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val numer = counts.values.sum + counts.size
    assert(lm.numer == numer && lm.vocab == counts.size)
    // n=3 window hashes are INJECTIVE: the string-keyed and hash-keyed
    // models must be the same model
    assert(lm.hashes.length == counts.size)
    corpus.foreach { case (id, text) =>
      val gs = grams(text)
      val surp = gs.map { g =>
        val q = numer / (counts.getOrElse(g, 0L) + 1)
        (63 - java.lang.Long.numberOfLeadingZeros(q)).toLong
      }.sum
      val (nG, s, avg) = out(id)
      assert(nG == gs.size && s == surp, s"doc $id: got ($nG,$s) want (${gs.size},$surp)")
      if (gs.isEmpty) assert(avg == null, s"doc $id: zero grams must yield NULL average")
      else assert(avg == surp.toDouble / gs.size)
    }
    // the all-OOV doc must be strictly more surprising per gram than in-domain text
    assert(out(5L)._3.asInstanceOf[Double] > out(1L)._3.asInstanceOf[Double])
    // model is vocabulary-bounded
    assert(lm.vocab <= lm.total)

    // the kernel expression agrees with the explode + broadcast-join +
    // groupBy spelling it replaced (kept here as the equivalence oracle)
    val replay = {
      import org.apache.spark.sql.graft.ExprColumn
      val model = broadcast(lm.hashes.zip(lm.counts).toSeq.toDF("__graft_h", "__graft_cnt"))
      df.select($"doc_id", TextFunctions.normalize($"text").as("__graft_norm"))
        .select($"doc_id", explode_outer(ExprColumn(graft.plans.CharWindowHashes(
          ExprColumn.expr($"__graft_norm"), 3))).as("__graft_h"))
        .join(model, Seq("__graft_h"), "left")
        .groupBy($"doc_id")
        .agg(
          count($"__graft_h").as("n_grams"),
          sum(when($"__graft_h".isNull, 0L).otherwise(
            length(bin(expr(s"${lm.numer}L div (coalesce(__graft_cnt, 0L) + 1L)"))).cast("long") - 1L))
            .as("surprisal"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    corpus.foreach { case (id, _) =>
      assert(replay(id) == ((out(id)._1, out(id)._2)), s"kernel != replay for doc $id")
    }

    // scale shape: the whole score is map-side — scan → project, zero
    // shuffles, and the model expression appears exactly once (no
    // CollapseProject duplication of the reference-object loop)
    val plan = TextFunctions.lmSurprisalScores(viaParquet(df), "doc_id", "text", lm)
    assert(graft.plans.PlanChecks.shuffleCount(plan) == 0, "score must be entirely map-side")
    assert(graft.plans.PlanChecks.broadcastJoinCount(plan) == 0)
    assert(graft.plans.PlanChecks.exprOccurrences(plan, "lm_surprisal") == 1)
  }

  test("empty LM model (no trainable document) scores every doc 0 instead of crashing") {
    import graft.text.TextFunctions
    val df = Seq((1L, "some text here"), (2L, "ab")).toDF("doc_id", "text")
    // training slice where no document reaches n chars → empty model
    val lm = TextFunctions.trainCharLm(df.filter($"doc_id" === 2L), "text")
    assert(lm.vocab == 0 && lm.numer == 0)
    val out = TextFunctions.lmSurprisalScores(df, "doc_id", "text", lm)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 12 && out(0).getLong(2) == 0) // grams counted, all surprisal 0
    assert(out(0).getDouble(3) == 0.0)
    assert(out(1).getLong(1) == 0 && out(1).isNullAt(3))
  }

  test("LmKernel: n>3 polynomial path interpreted == codegen; short/empty strings") {
    import org.apache.spark.sql.graft.ExprColumn
    import org.apache.spark.sql.catalyst.expressions.Literal
    val texts = Seq("abcdefgh", "abc", "", "aaaaaa", "ab")
    for (n <- Seq(2, 3, 4, 5)) {
      val viaDf = texts.toDF("t")
        .select(ExprColumn(graft.plans.CharWindowHashes(ExprColumn.expr($"t"), n)).as("h"))
        .collect().map(_.getSeq[Long](0).toSeq)
      val interp = texts.map(t => graft.plans.CharWindowHashes(Literal(t), n)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
      assert(viaDf.toSeq == interp, s"n=$n")
      texts.zip(interp).foreach { case (t, hs) =>
        assert(hs.length == math.max(0, t.length - n + 1), s"n=$n '$t'")
      }
      // equal windows hash equal; for n<=3 distinct windows hash distinct
      val all = texts.flatMap(t => (0 to t.length - n).map(i => t.substring(i, i + n))).zip(interp.flatten)
      all.groupBy(_._1).foreach { case (_, g) => assert(g.map(_._2).distinct.size == 1) }
      if (n <= 3) assert(all.toMap.values.toSeq.distinct.size == all.map(_._1).distinct.size)
    }
  }

  test("topicBoundaries: two-topic doc valleys at the junction, uniform doc does not") {
    import spark.implicits._
    val topicA = Seq.fill(6)("alpha beta gamma delta epsilon").mkString(" ") // 30 tokens
    val topicB = Seq.fill(6)("omega sigma lambda kappa theta").mkString(" ") // 30 tokens
    val docs = Seq(
      (1L, topicA + " " + topicB), // junction at gap 3 of 5 (w=10, 6 blocks)
      (2L, Seq.fill(12)("alpha beta gamma delta epsilon").mkString(" ")), // one topic
      (3L, "too short to have blocks")).toDF("doc_id", "text")
    val out = TextFunctions.topicBoundaries(docs, "doc_id", "text", w = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: 6 blocks, 5 gaps; gap 3 (blocks 2|3) spans the junction → sim 0
    assert(out(1L)._1 == 5L)
    assert(out(1L) == ((5L, 1L, 3L, 0L)))
    // doc 2: identical blocks — flat sims, no strict local min below median
    assert(out(2L)._1 == 5L && out(2L)._2 == 0L)
    // doc 3: < 2 full blocks → absent
    assert(!out.contains(3L))
    assertThrows[IllegalArgumentException](
      TextFunctions.topicBoundaries(docs, "doc_id", "text", w = 1))
  }

}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // near-dup of 1
    (4L, "completely different content about solar energy forecasting and wind turbines"))
    .toDF("doc_id", "text")

  test("term frequencies: totals and document frequencies per lowercase token") {
    val df = Seq((1L, "The the cat"), (2L, "the dog"), (3L, "")).toDF("doc_id", "text")
    val m = TextFunctions.termFrequencies(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m("the") == ((3L, 2L))) // 2 in doc1 + 1 in doc2; 2 docs
    assert(m("cat") == ((1L, 1L)))
    assert(m("dog") == ((1L, 1L)))
    assert(m.size == 3) // empty doc contributes nothing
  }

  test("text expressions are callable from SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT simhash64(array('a','b')) AS s,
               rolling_hash64(array('a','b')) AS rh,
               size(minhash_sig(array('a b c'), 4)) AS mk,
               size(xxhash64_array(array('x','y'))) AS xk,
               size(window_hash64(array('a','b','c'), 2)) AS wk,
               size(char_window_hashes('abcd', 3)) AS ck""").head()
    assert(!r.isNullAt(0) && !r.isNullAt(1))
    assert(r.getInt(2) == 4 && r.getInt(3) == 2)
    assert(r.getInt(4) == 2 && r.getInt(5) == 2)
  }

  test("redaction replaces PII patterns and counts hits") {
    val df = Seq(
      (1L, "mail me at a.b@test.org or call 555-1234"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val out = df.select(
      col("doc_id"),
      TextFunctions.redact(col("text")).as("red"),
      TextFunctions.patternHits(col("text"), TextFunctions.piiPatterns(0)._1).as("e"),
      TextFunctions.patternHits(col("text"), TextFunctions.piiPatterns(1)._1).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(out.contains((1L, "mail me at <EMAIL> or call <PHONE>", 1, 1)))
    assert(out.contains((2L, "nothing here", 0, 0)))
  }

  test("exact dedup groups identical normalized content") {
    val groups = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
    assert(groups.count() == 3)
    assert(groups.filter($"n_dups" === 2).select("keep_id").as[Long].head() == 1L)
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() == 3)
  }

  test("map-side minhash_sig expression is bit-identical to the aggregate spelling") {
    // mixed content incl. empty text (singleton "" shingle), punctuation,
    // repeated tokens — plus interpreted-eval coverage below
    val df = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (10L, ""), (11L, "one"), (12L, "a b"), (13L, "x y z w x y z w")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSets(df, "doc_id", "text", 3)
    val fast = Dedup.minhashSignaturesFromShingles(sh, "doc_id", 16)
    val slow = Dedup.minhashSignaturesFromShinglesAgg(sh, "doc_id", 16)
    assert(sortedRows(fast) == sortedRows(slow))
    // pre-hashed shingles (array<long>) produce the SAME signatures, and
    // jaccard over hashed sets equals jaccard over the strings
    val hsh = Dedup.hashedShingleSets(df, "doc_id", "text", 3)
    val hashed = Dedup.minhashSignaturesFromShingles(hsh, "doc_id", 16)
    assert(sortedRows(hashed) == sortedRows(slow))
    val somePairs = Seq((1L, 2L), (1L, 3L), (10L, 11L)).toDF("id1", "id2")
    assert(
      sortedRows(Dedup.verifyJaccardOnShingles(hsh, somePairs, "doc_id", 0.0)) ==
      sortedRows(Dedup.verifyJaccardOnShingles(sh, somePairs, "doc_id", 0.0)))
    // plan contract: map-side — zero shuffles, and the expensive expression
    // appears exactly once (a pushed-down null Filter would duplicate it).
    // Parquet-backed: local relations constant-fold to vacuous plans.
    val fastPq = Dedup.minhashSignaturesFromShingles(viaParquet(sh), "doc_id", 16)
    assert(graft.plans.PlanChecks.shuffleCount(fastPq) == 0)
    assert(graft.plans.PlanChecks.exprOccurrences(fastPq, "minhash_sig") == 1)
    // empty/NULL shingle arrays are dropped by both forms
    val edge = Seq((1L, Seq("a b c")), (2L, Seq.empty[String]))
      .toDF("doc_id", "sh").union(
        Seq((3L, null.asInstanceOf[Seq[String]])).toDF("doc_id", "sh"))
    assert(Dedup.minhashSignaturesFromShingles(edge, "doc_id", 4)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // interpreted path (direct eval, no codegen) agrees with codegen
    val lit = graft.plans.MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a b c"), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)), 4)
    val interp = lit.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    val viaDf = Seq((1L, Seq("a b c"))).toDF("doc_id", "sh")
    val codegenVals = Dedup.minhashSignaturesFromShingles(viaDf, "doc_id", 4)
      .drop("doc_id").collect().head.toSeq.map(_.asInstanceOf[Long])
    assert(interp == codegenVals)
  }

  test("randomized equivalence: expressions match aggregate spellings on 150 fuzzed docs") {
    // seeded generator: unicode, punctuation runs, empty/whitespace docs,
    // single chars, long repeats — the corners fixed examples miss
    val rng = new scala.util.Random(20260812)
    val alphabet = Vector("the", "a", "Σπ", "naïve", "x", "!!", "42", "word", "λ", "…", "tab\there")
    val docs = (1 to 150).map { i =>
      val n = rng.nextInt(40)
      val body = (0 until n).map(_ => alphabet(rng.nextInt(alphabet.size))).mkString(" ")
      val decorated = rng.nextInt(4) match {
        case 0 => s"  $body  "
        case 1 => body.toUpperCase
        case 2 => body.replace(" ", "   ")
        case _ => body
      }
      (i.toLong, decorated)
    }
    val df = docs.toDF("doc_id", "text")
    val sh = Dedup.shingleSets(df, "doc_id", "text", 3)
    assert(sortedRows(Dedup.minhashSignaturesFromShingles(sh, "doc_id", 8)) ==
      sortedRows(Dedup.minhashSignaturesFromShinglesAgg(sh, "doc_id", 8)))
    assert(sortedRows(Dedup.minhashSignaturesFromShingles(
      Dedup.hashedShingleSets(df, "doc_id", "text", 3), "doc_id", 8)) ==
      sortedRows(Dedup.minhashSignaturesFromShinglesAgg(sh, "doc_id", 8)))
    assert(sortedRows(Dedup.simhash(df, "doc_id", "text")) ==
      sortedRows(Dedup.simhashAgg(df, "doc_id", "text")))
    assert(sortedRows(TextFunctions.rollingHashByDoc(df, Seq("doc_id"), "text", "rh")) ==
      sortedRows(TextFunctions.rollingHashByDocAgg(df, Seq("doc_id"), "text", "rh")))
  }

  test("interpreted (no-codegen) paths of the custom expressions match codegen") {
    // Spark silently falls back to interpreted eval when codegen fails, so
    // nullSafeEval must agree with doGenCode for every expression.
    val df = docs
    def snapshot() = Seq(
      sortedRows(Dedup.minhashSignaturesFromShingles(
        Dedup.shingleSets(df, "doc_id", "text", 3), "doc_id", 8)),
      sortedRows(Dedup.minhashSignaturesFromShingles(
        Dedup.hashedShingleSets(df, "doc_id", "text", 3), "doc_id", 8)),
      sortedRows(Dedup.simhash(df, "doc_id", "text")),
      sortedRows(graft.text.TextFunctions.rollingHashByDoc(df, Seq("doc_id"), "text", "rh")),
      sortedRows(Dedup.ngramOverlap(df, df.limit(2), "doc_id", "text", 3)), {
        val vecs = Seq(
          (1L, Seq(1.0f, 0.0f, 2.0f)), (2L, Seq(-1.0f, 0.5f, 0.25f)),
          (3L, Seq(2.0f, 0.0f, 4.0f))).toDF("vec_id", "embedding")
        val cents = Seq((0, Seq(1.0f, 0.0f, 2.0f)), (1, Seq(-1.0f, 1.0f, 0.0f)))
          .toDF("centroid_id", "centroid")
        sortedRows(Similarity.assignToCentroids(vecs, cents)) ++
          sortedRows(Similarity.cosineNearDuplicates(vecs, threshold = 0.9, dimension = Some(3)))
      })
    val codegen = snapshot()
    val conf = spark.conf
    val oldFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val oldWhole = conf.getOption("spark.sql.codegen.wholeStage")
    try {
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      conf.set("spark.sql.codegen.wholeStage", "false")
      assert(snapshot() == codegen)
    } finally {
      oldFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(conf.set("spark.sql.codegen.factoryMode", _))
      oldWhole.fold(conf.unset("spark.sql.codegen.wholeStage"))(conf.set("spark.sql.codegen.wholeStage", _))
    }
  }

  test("minhash LSH finds near-duplicate pair and verifies exact jaccard") {
    val out = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(out.contains((1L, 3L)) || out.contains((2L, 3L))) // near dup
    assert(!out.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("duplicate clusters: components over pairs, representatives kept") {
    // components: {1,2,3} (chain 1-2, 2-3), {5,6}, singleton 9 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val clusters = Dedup.duplicateClusters(pairs)
    // the returned frame must be ANCHORED: every leaf is a checkpoint scan
    // (LogicalRDD), so downstream actions never re-run the iterative cascade
    val leaves = clusters.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty &&
      leaves.forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"expected checkpoint-scan leaves, got: ${leaves.map(_.getClass.getSimpleName)}")
    val roots = clusters
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val df = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val kept = Dedup.dropNearDuplicates(df, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 9L))
    // a longer chain exercises multiple propagation rounds
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainRoots = Dedup.duplicateClusters(chain)
      .select("root").distinct().as[Long].collect().toSeq
    assert(chainRoots == Seq(1L))
    // a durable scratch-parquet checkpointer (the shared-cluster strategy)
    // yields identical components — fresh path per call, counted
    val scratch = java.nio.file.Files.createTempDirectory("graft-cc").toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val durable = Dedup.duplicateClusters(chain, checkpoint =
      df => graft.query.FileCache.cached(spark, scratch, s"cc_${n.incrementAndGet()}")(df))
    assert(durable.select("root").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(n.get() >= 4, "every round must have checkpointed")
  }

  test("keep-best dedup keeps the highest-score member per component, min id on ties") {
    val df = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // component {1,2,3}: best score 9 → tie → id 2
      (5L, 1.0), (6L, 2.0),            // component {5,6}: 6 wins
      (9L, 0.0))                        // singleton: untouched
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    spark.catalog.clearCache()
    val kept = Dedup.dropNearDuplicatesKeepBest(df, pairs, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 6L, 9L))
    // leak guard: the internal `scored` cache must be released once the
    // keep-best result is computed — long-lived sessions must not pin one
    // frame per call (round-5 advice)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dropNearDuplicatesKeepBest must unpersist its internal cache")
  }

  test("assignToCentroids gives NaN embeddings a defined assignment instead of crashing") {
    val centroids = Seq((10L, Seq(1f, 0f)), (20L, Seq(0f, 1f))).toDF("centroid_id", "centroid")
    val vecs = Seq(
      (1L, Seq(Float.NaN, Float.NaN)), // all sims NaN → clamped to index 0 → smallest centroid id
      (2L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.assignToCentroids(vecs, centroids)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 10L, 2L -> 20L))
  }

  test("cross-corpus line dedup keeps only the globally first occurrence") {
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),        // beta first seen in doc 1 → dropped here
      (3L, "alpha\nbeta"),        // both lines seen → doc comes back empty (no row)
      (4L, "epsilon\nepsilon"))   // intra-doc repeat: second occurrence dropped
      .toDF("doc_id", "text")
    val out = Dedup.dropRepeatedLines(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(
      1L -> "alpha\nbeta\ngamma",
      2L -> "delta",
      4L -> "epsilon"))
  }

  test("incremental dedup reports only new-vs-existing pairs") {
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta"), // near-dup of 1 (last word dropped)
      (102L, "totally different content with novel words here"),
      (103L, "totally different content with novel words also")) // near-dup of 102: new×new, must NOT appear
      .toDF("doc_id", "text")
    val out = Dedup.minhashNearDuplicatesAgainst(
      incoming, existing, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(p => (p._1, p._2)).toSet == Set((101L, 1L)))
    // doc 1: 6 trigram shingles, clipped: 5, all shared -> jaccard 5/6
    assert(math.abs(out.head._3 - 5.0 / 6) < 1e-12)
    spark.sharedState.cacheManager.clearCache() // documented caller contract
  }

  test("window_hash64 span flagging matches a raw-string replay (fuzzed); interpreted = codegen") {
    val n = 3
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d") // tiny vocab forces real window repeats
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // driver-side replay with raw window STRINGS as identity
    val wins = docs.flatMap { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      if (t.length >= n) (0 to t.length - n).map(p => (id, p, t.slice(p, p + n).mkString(" ")))
      else Nil
    }
    val dupGrams = wins.groupBy(_._3).filter(_._2.size > 1).keySet
    val flagged = wins.filter(w => dupGrams(w._3))
    val expected = docs.map { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      val covered = flagged.filter(_._1 == id).flatMap(w => w._2 until w._2 + n).toSet
      val cleaned = t.zipWithIndex.collect { case (tok, p) if !covered(p) => tok }.mkString(" ")
      id -> ((flagged.count(_._1 == id).toLong, cleaned))
    }.toMap
    val out = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == expected)
    assert(expected.values.exists(_._1 > 0), "fuzz corpus must actually contain duplicate windows")

    // interpreted eval agrees with the codegen'd DataFrame path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val toks = Seq("a", "b", "c", "d", "a", "b", "c")
    val interpreted = graft.plans.WindowHash64(Literal.create(toks, ArrayType(StringType)), n)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    val viaDf = {
      import org.apache.spark.sql.graft.ExprColumn
      Seq(Tuple1(toks)).toDF("toks")
        .select(ExprColumn(graft.plans.WindowHash64(ExprColumn.expr(col("toks")), n)).as("h"))
        .head().getSeq[Long](0)
    }
    assert(interpreted == viaDf)
    assert(interpreted(0) == interpreted(4), "equal windows must hash equal (a b c at 0 and 4)")
    // short documents yield NULL (dropped by generators)
    assert(graft.plans.WindowHash64(
      Literal.create(Seq("a", "b"), ArrayType(StringType)), n).eval(null) == null)
  }

  test("duplicate-span removal: cross-doc and within-doc windows, hand-checked") {
    val df = Seq(
      (1L, "a b c d e f"),         // shares "a b c","b c d" with doc 2
      (2L, "x y a b c d z"),       // flagged at pos 2,3 → covered 2..5
      (3L, "p q r p q r p q"),     // every window repeats within the doc
      (4L, "m n"),                 // < n tokens: untouched
      (5L, "solo tokens only here")) // unique windows: untouched
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((2L, "e f")))       // covered 0..3, keep pos 4,5
    assert(out(2L) == ((2L, "x y z")))     // covered 2..5, keep 0,1,6
    assert(out(3L) == ((6L, "")))          // all 6 windows repeat → everything covered
    assert(out(4L) == ((0L, "m n")))
    assert(out(5L) == ((0L, "solo tokens only here")))
  }

  test("ngram overlap flags only documents sharing benchmark n-grams") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contains the benchmark trigram
      (2L, "one two three four five six"),         // disjoint
      (3L, "alpha beta gamma nine ten eleven"))    // shares the same trigram
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val hits = Dedup.ngramOverlap(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(1L -> 1L, 3L -> 1L))
    // benchmark side broadcasts (plan contract for the 100 TB shape)
    val df = Dedup.ngramOverlap(corpus, bench, "doc_id", "text", n = 3)
    assert(graft.plans.PlanChecks.broadcastJoinCount(df) >= 1)
    // duplication guard: the hashing expression appears once per side
    // (corpus + bench) — InferFiltersFromGenerate + pushdown once inlined
    // the whole shingle pipeline into an inferred size() filter (60×
    // slower). MUST run over file scans: ConvertToLocalRelation constant-
    // folds projections over local relations and the count reads 0.
    val dir = java.nio.file.Files.createTempDirectory("ngram_guard").toString
    corpus.write.mode("overwrite").parquet(s"$dir/corpus")
    bench.write.mode("overwrite").parquet(s"$dir/bench")
    val fileDf = Dedup.ngramOverlap(
      spark.read.parquet(s"$dir/corpus"), spark.read.parquet(s"$dir/bench"),
      "doc_id", "text", n = 3)
    // exactly 2: <= would pass vacuously at 0 if the rendering changed
    // (r18: hashedShingleSets' hashing expression is now gram_hashes)
    assert(graft.plans.PlanChecks.exprOccurrences(fileDf, "gram_hashes") == 2)
  }

  test("map-side simhash64 expression is bit-identical to the aggregate spelling") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, ""),              // empty → dropped by both forms
      (4L, "one one one"),   // multiset: duplicates count
      (5L, "Punct, MIXED case! 42")).toDF("doc_id", "text")
    val fast = Dedup.simhash(df, "doc_id", "text")
    val slow = Dedup.simhashAgg(df, "doc_id", "text")
    assert(sortedRows(fast) == sortedRows(slow))
    assert(graft.plans.PlanChecks.shuffleCount(
      Dedup.simhash(viaParquet(df), "doc_id", "text")) == 0)
  }

  test("simhash hamming distance and near-dup buckets") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
    assert(sig.count() == 4)
    val pairs = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containmentPairs: snippet fully contained in parent that Jaccard misses; dfCap drops stop-shingles") {
    // parent: 12 distinct tokens → 10 trigram windows; snippet: first 6
    // tokens → 4 windows, all inside the parent: containment 1.0 while
    // jaccard would be 4/10 — the pair symmetric-Jaccard LSH misses
    val parent = "a b c d e f g h i j k l"
    val snippet = "a b c d e f"
    val docs = Seq((1L, parent), (2L, snippet), (3L, "x y z w v u")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.9, dfCap = 100)
      .select("id1", "id2", "c1_in_2", "c2_in_1", "containment")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 4.0 / 10.0, 1.0, 1.0)))

    // dfCap = 1 removes every shared shingle → no pairs at all
    val none = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.1, dfCap = 1)
    assert(none.count() === 0)
  }

  test("charEntropyBits: degenerate filler near zero, diverse text higher") {
    val df = Seq(
      ("aaaaaaaa", 8L, 0L),            // one char: flog2(8/8)=0 -> entropy 0
      ("aaaabbbb", 8L, 8L),            // two equal chars: 8 * flog2(2) = 8
      ("abcd", 4L, 8L),                // four singles: 4 * flog2(4) = 8
      ("a b. C!", 3L, 3L),             // only [a-z0-9] counted; case folded
      ("", 0L, 0L),                    // empty text
      ("!?.,", 0L, 0L)                 // no counted chars at all
    ).toDF("text", "tot", "ent")
    val got = graft.text.TextFunctions.charEntropyBits(df, "text")
      .select("tot", "ent", "char_total", "entropy_bits")
      .as[(Long, Long, Long, Long)].collect()
    got.foreach { case (t2, e, gt, ge) => assert((gt, ge) == ((t2, e))) }
  }

  test("matchBlocklist: subdomain semantics, most specific entry wins") {
    import graft.text.UrlOps
    val hosts = Seq(
      (1L, "cdn.bad.org"),      // blocked by bad.org
      (2L, "a1.bad.org"),       // a1.bad.org is more specific than bad.org
      (3L, "deep.a1.bad.org"),  // subdomain of the specific entry
      (4L, "goodbad.org"),      // NOT a subdomain (label boundary)
      (5L, "fine.com")).toDF("id", "host")
    val bl = Seq("bad.org", "a1.bad.org").toDF("entry")
    val got = UrlOps.matchBlocklist(hosts, "id", "host", bl)
      .select("id", "blocked_by").as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      1L -> Some("bad.org"), 2L -> Some("a1.bad.org"), 3L -> Some("a1.bad.org"),
      4L -> None, 5L -> None))
  }

  test("oovStats scores docs against the corpus's own top-k vocabulary") {
    // tokens by frequency: "the" x4, "cat" x3, "dog" x2, rare x1 each.
    // vocabSize=2 -> vocab {the, cat}; doc 3 is all-rare.
    val docs = Seq(
      (1L, "the cat the cat"),
      (2L, "the dog the cat dog"),
      (3L, "zebra yak")).toDF("doc_id", "text")
    val got = TextFunctions.oovStats(docs, "doc_id", "text", vocabSize = 2)
      .select("doc_id", "total_tokens", "oov_tokens", "oov_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((4L, 0L, 0L)))
    assert(got(2L) == ((5L, 2L, 400000L)))
    assert(got(3L) == ((2L, 2L, 1000000L)))
    // frequency ties break to the lexicographically smaller token
    val tied = Seq((1L, "aa bb"), (2L, "aa bb")).toDF("doc_id", "text")
    val oneVocab = TextFunctions.oovStats(tied, "doc_id", "text", vocabSize = 1)
      .select("oov_tokens").as[Long].collect().toSeq
    assert(oneVocab == Seq(1L, 1L), "vocab must be {aa}: bb is OOV in both docs")
  }

  test("fertilityCounts: pieces = alnum runs + non-alnum non-space chars") {
    val df = Seq(
      ("hello world", 2L, 2L),          // plain words: 1 piece each
      ("don't stop", 2L, 4L),           // don ' t stop
      ("a,b..c", 1L, 6L),               // a , b . . c
      ("  spaced   out  ", 2L, 2L)).toDF("text", "w", "p")
    val got = TextFunctions.fertilityCounts(df, "text")
      .select("w", "p", "n_words", "n_pieces").as[(Long, Long, Long, Long)].collect()
    got.foreach { case (w, p, nw, np) => assert((nw, np) == ((w, p))) }
  }

  test("corpusNoveltyScores separates templated from unique docs") {
    // docs 1 and 2 share their whole text (all grams df=2, novelty 0);
    // doc 3 is fully unique (novelty 1e6); doc 4 mixes: 4 tokens shared
    // with doc 3's start, rest unique
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"),
      (4L, "one two three nine ten eleven twelve")).toDF("doc_id", "text")
    val got = Dedup.corpusNoveltyScores(docs, "doc_id", "text", shingleSize = 3)
      .select("doc_id", "total_grams", "unique_grams", "novelty_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 0L, 0L)))
    assert(got(2L) == ((3L, 0L, 0L)))
    // doc3 grams: 4 windows; "one two three" also in doc4 → 3 unique of 4
    assert(got(3L) == ((4L, 3L, 750000L)))
    // doc4: 5 windows, shares only "one two three" → 4 unique of 5
    assert(got(4L) == ((5L, 4L, 800000L)))
  }

  test("corpusNoveltyScores short docs collapse to one whole-text gram") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val got = Dedup.corpusNoveltyScores(docs, "doc_id", "text", shingleSize = 3)
      .select("doc_id", "total_grams", "novelty_ppm")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1L, 0L)) && got(2L) == ((1L, 0L)) && got(3L) == ((1L, 1000000L)))
  }

  test("incrementalClusters == full recompute on fuzzed graphs; untouched components pass through") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 5) {
      val base = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2).toDF("id1", "id2")
      val batch = Seq.fill(8)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2).toDF("id1", "id2") // ids 30..39 are NEW nodes
      val existing = Dedup.duplicateClusters(base)
      val incr = Dedup.incrementalClusters(existing, batch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = Dedup.duplicateClusters(base.unionByName(batch))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // every node the full recompute knows agrees; incremental may also
      // carry singleton artifacts for isolated old nodes — roots must match
      full.foreach { case (id, root) => assert(incr(id) == root, s"node $id") }
    }
  }

  // ------------------------------------------------------------ winnowing

  /** Driver-side reference winnowing: per w-window rightmost argmin,
    * positions recorded once — the SIGMOD'03 definition, straight-line. */
  private def winnowRef(hs: Seq[Long], w: Int): Seq[Long] = {
    if (hs.isEmpty) return Seq.empty
    val win = math.min(w, hs.length)
    val picks = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (j <- 0 to hs.length - win) {
      val window = (j until j + win)
      val minV = window.map(hs).min
      val pick = window.filter(i => hs(i) == minV).max // rightmost tie
      if (picks.isEmpty || picks.last != pick) picks += pick
    }
    picks.toSeq.map(hs)
  }

  test("winnow_select matches the reference selection on fuzzed arrays") {
    val rnd = new scala.util.Random(20260814)
    import org.apache.spark.sql.graft.ExprColumn
    for (trial <- 1 to 30) {
      val m = 1 + rnd.nextInt(40)
      val w = 1 + rnd.nextInt(6)
      // small value range on purpose: forces ties, exercising the
      // rightmost-tie rule that distinguishes winnowing variants
      val hs = Seq.fill(m)(rnd.nextInt(8).toLong - 3)
      val df = Seq(Tuple1(hs)).toDF("hs")
      val got = df.select(ExprColumn(
        graft.plans.WinnowSelect(ExprColumn.expr(col("hs")), w)).as("sel"))
        .head().getSeq[Long](0)
      assert(got == winnowRef(hs, w), s"trial $trial m=$m w=$w hs=$hs")
    }
  }

  test("winnowing guarantee: docs sharing a long run share a fingerprint; density ~ 2/(w+1)") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, shared + " one ending here now"),
      (2L, "prefix words differ " + shared),
      (3L, "totally unrelated text about reactor maintenance schedules and steam")).toDF("doc_id", "text")
    val fps = Dedup.winnowedFingerprints(docs, "doc_id", "text", n = 4, w = 4)
    val byDoc = fps.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // the ≥ w+n−1 = 7-token shared run guarantees a common fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // density: selected ≤ windows, and far fewer (ballpark 2/(w+1))
    val mWindows = shared.split(" ").length + 4 - 4 + 1
    assert(byDoc(1L).size < mWindows)
  }

  test("winnowing short-document rules: < n tokens none, >= n tokens at least one") {
    val docs = Seq((1L, "a b c"), (2L, "a b c d"), (3L, "")).toDF("doc_id", "text")
    val fps = Dedup.winnowedFingerprints(docs, "doc_id", "text", n = 4, w = 4)
      .collect().groupBy(_.getLong(0))
    assert(!fps.contains(1L) && !fps.contains(3L)) // fewer than n tokens: no window
    assert(fps(2L).length == 1) // one window hash, w > m: rightmost min of the whole array
  }

  test("sorted-neighborhood blocking pairs adjacent keys within the window only") {
    val recs = Seq(
      (1L, "acme corporation north"),   // pair with 2 (1 edit in key)
      (2L, "acme corporation norte"),
      (3L, "acme industries limited"),  // within window of 1,2 but > maxDist
      (4L, "zenith widgets global"),    // different block ('z')
      (5L, "zenith widgets global")).toDF("doc_id", "key")
      .withColumn("block", substring(col("key"), 1, 1))
    val out = Dedup.sortedNeighborhoodPairs(recs, "doc_id", "key", "block",
      window = 3, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pair order follows SORT position: 'norte' < 'north' → id1 = 2
    assert(out == Set((2L, 1L, 1L), (4L, 5L, 0L)))
  }

  test("sorted-neighborhood window bound: rank distance beyond window-1 is never compared") {
    // four identical-distance keys in one block: window=2 pairs only adjacent ranks
    val recs = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "aaac"), (4L, "aaad"))
      .toDF("doc_id", "key").withColumn("block", lit("a"))
    val out = Dedup.sortedNeighborhoodPairs(recs, "doc_id", "key", "block",
      window = 2, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    assertThrows[IllegalArgumentException](
      Dedup.sortedNeighborhoodPairs(recs, "doc_id", "key", "block", window = 1))
  }

  test("winnowingNearDuplicates pairs the planted clone and reports sizes") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today again"
    val docs = Seq(
      (1L, base),
      (2L, "intro words " + base),
      (3L, "unrelated corpus row about tidal power generation capacity planning")).toDF("doc_id", "text")
    val out = Dedup.winnowingNearDuplicates(docs, "doc_id", "text", n = 4, w = 4, minShared = 2)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("id1")) == 1L && r.getLong(r.fieldIndex("id2")) == 2L)
    assert(r.getLong(r.fieldIndex("shared")) >= 2L)
    assert(r.getLong(r.fieldIndex("n_fp1")) >= r.getLong(r.fieldIndex("shared")))
  }

}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f)))
    .toDF("vec_id", "embedding")

  test("cosine math via higher-order functions") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head() == 0.0)
    val same = Seq((Seq(2.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    assert(math.abs(same.select(Similarity.cosine(col("a"), col("b"))).as[Double].head() - 1.0) < 1e-6)
  }

  test("brute-force top-k ranks by cosine") {
    val out = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0L), vecs, k = 2)
      .orderBy("rank").collect()
    assert(out(0).getAs[Long]("neighbor_id") == 1L) // most similar to [1,0,0]
    assert(out.length == 2)
  }

  test("mmrSelect trades relevance for diversity after round 1") {
    // query [1,0,0]; candidates: two near-duplicates of the query direction
    // (ids 1,2), one orthogonal (3), one diagonal (4). Pure relevance would
    // pick 1 then 2; MMR must pick 1 then skip its near-copy for a
    // more-diverse candidate.
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.01f, 0.0f)),
      (2L, Seq(0.98f, 0.02f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")
    // λ = 0.3: diversity-weighted enough that a 0.9999-sim near-copy of
    // pick 1 loses to the orthogonal candidate despite far higher relevance
    val got = Similarity.mmrSelect(corpus.filter($"vec_id" === 0L), corpus,
        topN = 4, k = 3, lambdaNum = 3L, lambdaDen = 10L)
      .orderBy("round").select("round", "neighbor_id").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), "one pick per round")
    assert(got.head._2 == 1L, "round 1 is pure relevance")
    assert(got(1)._2 != 2L, "round 2 must NOT take the near-duplicate of pick 1")
    assert(got.map(_._2).distinct.size == 3, "no repeats")
  }

  test("mmrSelect lambda=den degenerates to pure relevance ranking") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.01f, 0.0f)),
      (2L, Seq(0.98f, 0.02f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpus.filter($"vec_id" === 0L), corpus,
        topN = 3, k = 3, lambdaNum = 10L, lambdaDen = 10L)
      .orderBy("round").select("neighbor_id").as[Long].collect().toSeq
    val rel = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0L), corpus, k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == rel)
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(corpus, corpus, topN = 2, k = 3)
    }
  }

  test("IVF probes nearest cells and finds the same top neighbor") {
    val centroids = Similarity.sampleCentroids(vecs, 2)
    val cells = Similarity.assignToCentroids(vecs, centroids)
    assert(cells.columns.contains("centroid_id"))
    val out = Similarity.ivfTopK(vecs.filter($"vec_id" === 0L), cells, centroids, k = 1, probes = 2)
      .collect()
    assert(out.nonEmpty && out(0).getAs[Long]("neighbor_id") == 1L)
  }

  /** Deterministic 3-cluster corpus: 20 vectors per cluster around
    * orthogonal centers, small sin-based jitter. */
  private def clusteredVecs = {
    val centers = Seq(Seq(10f, 0f, 0f), Seq(0f, 10f, 0f), Seq(0f, 0f, 10f))
    (0 until 60).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, d) => x + (math.sin(i * 7 + d) * 0.5).toFloat })
    }.toDF("vec_id", "embedding")
  }

  test("assignToCentroids is a zero-shuffle map-side argmax; fallback path agrees") {
    val corpus = clusteredVecs
    val centroids = Similarity.sampleCentroids(corpus, 3)
    val cells = Similarity.assignToCentroids(corpus, centroids)
    // plan contract: the argmax projection adds NO exchange — the old
    // crossJoin+window form shuffled N×C rows (parquet-backed source)
    assert(graft.plans.PlanChecks.shuffleCount(
      Similarity.assignToCentroids(viaParquet(corpus), centroids)) == 0,
      "assignment must not shuffle")
    // the >maxUnrolledCentroids fallback (broadcast join + max_by) must
    // produce identical assignments
    val viaFallback = Similarity.assignToCentroids(corpus, centroids, maxUnrolledCentroids = 1)
    val a = cells.select("vec_id", "centroid_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = viaFallback.select("vec_id", "centroid_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("kmeans centroids: IVF recall@3 >= 0.9 vs the exact baseline") {
    val corpus = clusteredVecs
    val centroids = Similarity.kmeansCentroids(corpus, 3, iterations = 3)
    assert(centroids.count() == 3)
    val cells = Similarity.assignToCentroids(corpus, centroids)
    val queries = corpus.filter($"vec_id" < 6)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, cells, centroids, k = 3, probes = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("kmeans|| init is deterministic and seeds one centroid per far-apart mode") {
    val corpus = clusteredVecs
    val a = Similarity.kmeansParallelInit(corpus, 3)
    val b = Similarity.kmeansParallelInit(corpus, 3)
    val idsA = a.select("centroid_id").collect().map(_.getLong(0)).toSet
    assert(idsA == b.select("centroid_id").collect().map(_.getLong(0)).toSet, "must be deterministic")
    assert(a.count() == 3)
    // the 3 seeds must land in 3 DIFFERENT modes (ids mod 3 partition the
    // clusters) — the failure mode of one hash sample is 2 seeds in one mode
    assert(idsA.map(_ % 3).size == 3, s"seeds $idsA collapse onto a shared mode")
    // and Lloyd started from it keeps the recall bar
    val centroids = Similarity.kmeansCentroids(corpus, 3, iterations = 2)
    val cells = Similarity.assignToCentroids(corpus, centroids)
    val queries = corpus.filter($"vec_id" < 6)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, cells, centroids, k = 3, probes = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact intersect approx).size.toDouble / exact.size >= 0.9)
  }

  test("hyperplane_buckets expression matches the aggregate projection spelling") {
    import org.apache.spark.sql.graft.ExprColumn
    val bands = 2; val ppb = 3; val dim = 4
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 2.0f, 0.0f)),
      (2L, Seq(-0.25f, 0.75f, -0.5f, 1.0f)),
      (3L, Seq.empty[Float])) // empty vector: no buckets in either spelling
      .toDF("vec_id", "embedding")
    // the same deterministic plane derivation cosineNearDuplicates uses
    def plane(b: Int, p: Int): Seq[Double] = (0 until dim).map { i =>
      scala.util.hashing.MurmurHash3.productHash((b, p, i)).toDouble / Int.MaxValue
    }
    val planes = for (b <- 0 until bands; p <- 0 until ppb) yield plane(b, p)
    val fast = df.select(col("vec_id"),
      posexplode(ExprColumn(graft.plans.HyperplaneBuckets(
        ExprColumn.expr(col("embedding")), planes, ppb))).as(Seq("band", "bucket")))
    // the former aggregate spelling, inline
    val exploded = df.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
    val projAggs = for (b <- 0 until bands; p <- 0 until ppb)
      yield sum(col("x") * element_at(typedLit(plane(b, p)), col("i") + 1)).as(s"proj_${b}_$p")
    val projections = exploded.groupBy(col("vec_id")).agg(projAggs.head, projAggs.tail: _*)
    val sigCols = (0 until bands).map { b =>
      val bits = (0 until ppb).map { p =>
        when(col(s"proj_${b}_$p") >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }
      struct(lit(b).as("band"), bits.reduce((a, c) => a.bitwiseOR(c)).as("bucket"))
    }
    val slow = projections.select(col("vec_id"), explode(array(sigCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    assert(sortedRows(fast) == sortedRows(slow))
    // zero-shuffle contract over a real scan (local relations fold away)
    assert(graft.plans.PlanChecks.shuffleCount(
      viaParquet(df).select(col("vec_id"),
        posexplode(ExprColumn(graft.plans.HyperplaneBuckets(
          ExprColumn.expr(col("embedding")), planes, ppb)))
          .as(Seq("band", "bucket")))) == 0)
  }

  test("cosine near-duplicates finds scaled copies") {
    val dim64 = (id: Long, seed: Int) =>
      (id, (0 until 64).map(i => (math.sin(seed * 31 + i) * 10).toFloat))
    val base = Seq(dim64(1L, 1), dim64(2L, 2))
    val scaled = base.map { case (id, v) => (id + 100L, v.map(_ * 2.0f)) }
    val df = (base ++ scaled).toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDuplicates(df, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 101L), (2L, 102L)))
  }

  test("semantic dedup keeps the farthest-from-centroid member of each duplicate chain") {
    val theta = math.toRadians(5.5) // cos 5.5° ≈ 0.9954 > 0.99 > cos 11° ≈ 0.9816
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(math.cos(theta), math.sin(theta))),
      (3L, Seq(math.cos(2 * theta), math.sin(2 * theta))),
      (20L, Seq(0.0, 1.0)),
      (30L, Seq(0.0, 2.0)),
      (31L, Seq(0.0, 4.0)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("centroid_id", "centroid")
    // isolate the no-leak assertion below from caches earlier tests left
    spark.sharedState.cacheManager.clearCache()
    val out = Similarity.semanticDeduplicate(corpus, cents, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out.size == 6)
    // chain 1–2–3 (edges 1–2 and 2–3 only): exactly the lowest-centroid-sim
    // member survives, even though 1 and 3 are NOT direct duplicates
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 0L))
    assert((out(1L)._3, out(2L)._3, out(3L)._3) == ((0L, 0L, 1L)))
    // exact copies 20/30/31 all tie on centroid_sim = 1.0: lowest id keeps
    assert(Seq(20L, 30L, 31L).forall(id => out(id)._1 == 1L && out(id)._2 == 1.0))
    assert((out(20L)._3, out(30L)._3, out(31L)._3) == ((1L, 0L, 0L)))
    assert(math.abs(out(3L)._2 - math.cos(2 * theta)) < 1e-12)
    // nothing stays cached after the call returns
    assert(spark.sharedState.cacheManager.isEmpty, "semanticDeduplicate leaked a cached frame")
  }

  test("embeddingAudit: zero vectors counted, dim drift bounded, quantized norms exact") {
    val emb = Seq(
      (0L, Seq(1.0, 2.0), 7L),   // |v|² = 5 → q = 5000
      (1L, Seq(0.0, 0.0), 7L),   // zero vector
      (2L, Seq(0.5, 0.5, 0.5), 7L), // dim drift: 3 — |v|² = 0.75 → 750
      (3L, Seq(3.0, 4.0), 8L))   // 25 → 25000
      .toDF("vec_id", "embedding", "label")
    val out = graft.ml.Similarity.embeddingAudit(emb, Seq("label"))
      .select("label", "n_vecs", "dim_min", "dim_max", "n_zero", "sum_q_normsq")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out === Seq(
      (7L, 3L, 2L, 3L, 1L, 5750L),
      (8L, 1L, 2L, 2L, 0L, 25000L)))
  }

  test("hardNegatives: never returns a same-label neighbor; ranks by cosine desc") {
    val emb = Seq(
      (1L, Seq(1.0, 0.0), 0L),
      (2L, Seq(0.99, 0.1), 0L), // most similar to 1 but SAME label → excluded
      (3L, Seq(0.9, 0.4), 1L),
      (4L, Seq(0.0, 1.0), 1L),
      (5L, Seq(-1.0, 0.0), 2L)).toDF("vec_id", "embedding", "label")
    val got = graft.ml.Similarity.hardNegatives(emb.filter($"vec_id" === 1L), emb, k = 2)
      .select("query_id", "rank", "neighbor_id", "neighbor_label")
      .as[(Long, Int, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got === Seq((1L, 1, 3L, 1L), (1L, 2, 4L, 1L)))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("aHash64: gradient class, solid zero, brightness invariance, null for non-images") {
    import graft.multimodal.Multimodal.Codec
    // the closed-form gradient hash: bit by*8+bx set iff bx >= 4
    val expected = (0 until 64).filter(i => i % 8 >= 4).map(1L << _).sum
    val g1 = Codec.aHash64(Codec.gradientImage(16, 16, 20, 3, "png"))
    val g2 = Codec.aHash64(Codec.gradientImage(16, 16, 90, 3, "png"))
    val g3 = Codec.aHash64(Codec.gradientImage(32, 8, 10, 2, "png")) // other dims, same structure
    assert(g1.contains(expected) && g2 == g1 && g3 == g1,
      "aHash is invariant to base brightness and resolution for the same structure")
    assert(Codec.aHash64(Codec.solidGrayImage(12, 12, 77, "png")).contains(0L))
    assert(Codec.aHash64("not an image".getBytes("UTF-8")).isEmpty)
    // DataFrame op: nulls flow through, hashes group the two classes
    val df = Multimodal.imageAHashes(Multimodal.syntheticImages(spark, 40))
    val byHash = df.groupBy("ahash").count().as[(Long, Long)].collect().toMap
    assert(byHash == Map(expected -> 20L, 0L -> 20L))
  }

  test("synthetic media → real ImageIO/javax.sound decode → features pipeline") {
    val media = Multimodal.syntheticMedia(spark, 30)
    assert(media.count() == 30)
    val dims = Multimodal.decodeImageDims(media)
    // real header decode must reproduce the generator's closed-form dims
    // for every image format (png/bmp/gif) and (0,0) for audio/video
    val byId = dims.select("media_id", "media_type", "width", "height")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    byId.foreach { case (i, (mt, w, h)) =>
      if (i % 3 == 0) {
        val sub = (i / 3).toInt
        assert((mt, w, h) == (("image", 8 + (sub % 5) * 4, 6 + (sub % 3) * 2)), s"media $i")
      } else assert((w, h) == ((0, 0)), s"media $i decoded image dims from non-image")
    }
    // real WAV header decode: duration (1 + i%5)/8 s; non-audio 0.0
    val secs = Multimodal.decodeAudioSeconds(media)
      .select("media_id", "audio_seconds")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    secs.foreach { case (i, d) =>
      val expect = if (i % 3 == 1) (1 + (i % 5)) / 8.0 else 0.0
      assert(d == expect, s"media $i seconds $d != $expect")
    }
    // real pixel decode: every block feature of a solid-gray image is
    // exactly gray/256 in all three formats; non-images are all-zero
    val feats = Multimodal.extractFeatures(media)
      .select("media_id", "features")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    feats.foreach { case (i, f) =>
      assert(f.length == 16)
      val expect = if (i % 3 == 0) ((i * 7) % 256) / 256.0f else 0.0f
      assert(f.forall(_ == expect), s"media $i features $f != $expect")
    }
    // determinism: regenerating gives identical features
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30))
    assert(sortedRows(Multimodal.extractFeatures(media).select("media_id", "features")) ==
      sortedRows(again.select("media_id", "features")))
  }

  test("frame sampling explodes every nth frame index") {
    val df = Seq((1L, 10)).toDF("media_id", "total_frames")
    val out = Multimodal.sampleFrames(df, 3, "total_frames")
    assert(out.select("frame_index").as[Int].collect().toSeq == Seq(0, 3, 6, 9))
  }

  test("AVI round-trip: write solid-gray DIB frames, demux header + frame means exactly") {
    import Multimodal.Codec
    // width 10 forces row padding (30 → 32-byte stride): the mean must
    // exclude pad bytes or this value breaks
    val avi = Codec.solidGrayAvi(10, 4, 8, Seq(64, 128, 255))
    assert(Codec.videoInfo(avi).contains((10, 4, 8, 3)))
    assert(Codec.videoFrameMeans(avi, 1) ==
      Seq((0, 64 / 256.0), (1, 128 / 256.0), (2, 255 / 256.0)))
    assert(Codec.videoFrameMeans(avi, 2) == Seq((0, 64 / 256.0), (2, 255 / 256.0)))
    // non-AVI payloads: no frames, no info, no crash
    assert(Codec.videoInfo("not a riff".getBytes) == None)
    assert(Codec.videoInfo(null) == None)
    assert(Codec.videoFrameMeans(Array[Byte](1, 2, 3), 1) == Seq.empty)
    // adversarial header: dwWidth near 2^31/3 overflows an int stride —
    // must degrade to no frames, not an executor-killing AIOOBE
    val hostile = {
      val good = Codec.solidGrayAvi(4, 2, 8, Seq(0))
      val b = good.clone()
      val w = 715827882 // w*3 = 2147483646; int stride would wrap negative
      val avihOff = good.indexOfSlice("avih".getBytes) + 8
      for (i <- 0 until 4) b(avihOff + 32 + i) = ((w >> (8 * i)) & 0xff).toByte
      b
    }
    assert(Codec.videoFrameMeans(hostile, 1) == Seq.empty, "hostile width must not crash")
    // truncated movi data: parse what exists, never throw
    val truncated = Codec.solidGrayAvi(10, 4, 8, Seq(64, 128)).dropRight(20)
    Codec.videoFrameMeans(truncated, 1) // must not throw
    // ImageIO must NOT claim the AVI (keeps q33's image column zeros honest)
    assert(Codec.imageDims(avi) == ((0, 0)))

    // DataFrame path over synthetic media: every decoded property matches
    // the generator's closed form; pseudo-mp4 payloads emit zero frames
    val media = Multimodal.syntheticMedia(spark, 36).filter($"media_type" === "video")
    val info = Multimodal.decodeVideoInfo(media)
      .select("media_id", "video_width", "video_height", "video_fps", "video_frames")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    info.foreach { case (i, t) =>
      val sub = (i / 3).toInt
      val expect =
        if (i % 6 == 2) (16 + (sub % 3) * 8, 12, 8, 2 + (sub % 4)) else (0, 0, 0, 0)
      assert(t == expect, s"media $i")
    }
    val frames = Multimodal.sampleVideoFrames(media, 2)
      .select("media_id", "frame_index", "frame_mean")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(frames.nonEmpty)
    frames.foreach { case ((i, j), mean) =>
      assert(i % 6 == 2, s"undecodable media $i must emit no frames")
      assert(j % 2 == 0)
      assert(mean == ((i * 11 + j * 31) % 256) / 256.0, s"media $i frame $j")
    }
  }

  test("resize re-encodes a real PNG at target dims; solid gray survives bilinear") {
    val media = Multimodal.syntheticMedia(spark, 12)
    val out = Multimodal.resizeImages(media, 32, 16)
    assert(out.columns.toSeq.takeRight(3) == Seq("resized_payload", "resized_width", "resized_height"))
    val rows = out.select("media_id", "resized_payload", "resized_width", "resized_height").collect()
    rows.foreach { r =>
      val i = r.getLong(0)
      val p = r.getAs[Array[Byte]](1)
      assert((r.getInt(2), r.getInt(3)) == ((32, 16)))
      if (i % 3 == 0) {
        // round-trip: the resized payload is a real PNG of the target size
        // and bilinear resampling of a constant image stays constant
        assert(Multimodal.Codec.imageDims(p) == ((32, 16)), s"media $i")
        val img = Multimodal.Codec.decodeImage(p).get
        val gray = ((i * 7) % 256).toInt
        val expect = (gray << 16) | (gray << 8) | gray
        assert((img.getRGB(0, 0) & 0xffffff) == expect && (img.getRGB(31, 15) & 0xffffff) == expect)
      } else assert(p == null, s"non-image $i must resize to null")
    }
    // determinism: regenerate → byte-identical resized payloads
    val a = sortedRows(out.select("media_id", "resized_payload")
      .withColumn("resized_payload", hex($"resized_payload")))
    val b = sortedRows(Multimodal.resizeImages(Multimodal.syntheticMedia(spark, 12), 32, 16)
      .select("media_id", "resized_payload")
      .withColumn("resized_payload", hex($"resized_payload")))
    assert(a == b)
  }

  test("PCM WAV round-trip: pcmWav samples decode back exactly; non-audio decodes to none") {
    val samples = Array(500, -1200, 0, 32767, -32768, 7)
    val wav = Multimodal.Codec.pcmWav(samples)
    assert(Multimodal.Codec.wavSamples(wav).get.toSeq == samples.toSeq)
    assert(Multimodal.Codec.wavSamples("not audio".getBytes).isEmpty)
    assert(Multimodal.Codec.wavSamples(Array.emptyByteArray).isEmpty)
  }

  test("audioSegmentEnergies: full segments only, exact integer energies, opaque rows drop") {
    import spark.implicits._
    val wav = Multimodal.Codec.pcmWav(Array.fill(10)(100) ++ Array.fill(10)(-200) ++ Array.fill(4)(999))
    val df = Seq((1L, wav), (2L, "junk".getBytes)).toDF("id", "payload")
    val seg = Multimodal.audioSegmentEnergies(df, 10)
      .select(col("id"), col("segment_index"), col("energy"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // ragged 4-frame tail dropped; |−200|·10 = 2000
    assert(seg == Set((1L, 0, 1000L), (1L, 1, 2000L)))
  }

  test("synthetic audio corpus: clone differs only in segment 0, energies analytic") {
    val seg = Multimodal.audioSegmentEnergies(
      Multimodal.syntheticAudioCorpus(spark, 10), 200)
      .select(col("id"), col("segment_index"), col("energy"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    // base clip 5, segment k: 200·(500 + 5·16 + k); clone 15 seg0: 200·(7500+80)
    (0 until 12).foreach { k =>
      assert(seg((5L, k)) == 200L * (500 + 80 + k))
      if (k > 0) assert(seg((15L, k)) == seg((5L, k)))
    }
    assert(seg((15L, 0)) == 200L * 7580)
  }

}

class ChunkingSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.Chunking

  test("chunking: hand-checked spans, overlap, short and empty documents") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b c"), // shorter than one chunk
      (3L, "  "), // empty after tokenization → no chunks
      (4L, "x1 x2 x3 x4 x5 x6") // exactly stride+overlap+... boundary case
    ).toDF("id", "text")
    val got = Chunking.chunkDocuments(docs, "id", "text", chunkTokens = 4, overlapTokens = 2)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    // stride 2; doc 1 (10 toks): starts 0,2,4,6 (<= 10-2-1=7)
    assert(got == Set(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 2L, 4L, "t2 t3 t4 t5"),
      (1L, 2L, 4L, 4L, "t4 t5 t6 t7"),
      (1L, 3L, 6L, 4L, "t6 t7 t8 t9"),
      (2L, 0L, 0L, 3L, "a b c"),
      (4L, 0L, 0L, 4L, "x1 x2 x3 x4"),
      (4L, 1L, 2L, 4L, "x3 x4 x5 x6")))
    // every consecutive pair overlaps by exactly overlapTokens
    // (verified by the explicit expected spans above); coverage: every
    // token of doc 1 appears in some chunk
    val covered = got.filter(_._1 == 1L).flatMap(c => c._3 until (c._3 + c._4))
    assert(covered == (0L until 10L).toSet)
  }

  test("chunking equals a driver-side reference on fuzzed documents") {
    val rng = new scala.util.Random(23)
    val docs = (1 to 60).map { i =>
      val len = rng.nextInt(30)
      (i.toLong, (0 until len).map(j => s"w$j").mkString(" "))
    }
    val (chunk, overlap) = (7, 3)
    val got = Chunking.chunkDocuments(docs.toDF("id", "text"), "id", "text", chunk, overlap)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val expected = (for {
      (id, text) <- docs
      toks = text.split("\\s+").filter(_.nonEmpty)
      if toks.nonEmpty
      stride = chunk - overlap
      (start, cid) <- (0 to math.max(toks.length - overlap - 1, 0) by stride).zipWithIndex
      ck = toks.slice(start, start + chunk)
    } yield (id, cid.toLong, start.toLong, ck.length.toLong, ck.mkString(" "))).toSet
    assert(got == expected)
  }

  test("chunking refuses degenerate parameters and zero-overlap partitions exactly") {
    val docs = Seq((1L, "a b c d e f")).toDF("id", "text")
    intercept[IllegalArgumentException](Chunking.chunkDocuments(docs, "id", "text", 0))
    intercept[IllegalArgumentException](Chunking.chunkDocuments(docs, "id", "text", 4, 4))
    val got = Chunking.chunkDocuments(docs, "id", "text", 2, 0)
      .as[(Long, Long, Long, Long, String)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._5) == Seq("a b", "c d", "e f"), "zero overlap = exact partition")
  }
}

class SemiStructuredSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.SemiStructured
  import graft.functions.SemiStructured.Field

  test("flattenChat renders turns with stats; malformed JSON yields NULL text and zero counts") {
    val d = Seq(
      (1L, """[{"role":"user","content":"hi"},{"role":"assistant","content":"hello"},{"role":"user","content":"bye"}]"""),
      (2L, """not json""")).toDF("id", "convo")
    val out = SemiStructured.flattenChat(d, "convo")
      .select("id", "chat_text", "n_turns", "n_user_turns")
      .as[(Long, Option[String], Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out(0) === ((1L,
      Some("### user:\nhi\n### assistant:\nhello\n### user:\nbye"), 3L, 2L)))
    assert(out(1) === ((2L, None, 0L, 0L)))
  }

  test("shredJson extracts typed paths; missing paths and bad JSON yield NULL") {
    val rows = Seq(
      (1L, """{"a": 5, "nest": {"s": "x", "d": 1.5}, "arr": [10, 20]}"""),
      (2L, """{"a": "not-a-number", "nest": {}}"""),
      (3L, """not json at all"""),
      (4L, """{"nest": {"s": "y"}}""")
    ).toDF("id", "js")
    val got = SemiStructured.shredJson(rows, "js", Seq(
      Field("a", "$.a", "bigint"),
      Field("s", "$.nest.s", "string"),
      Field("d", "$.nest.d", "double"),
      Field("first", "$.arr[0]", "bigint"),
      Field("gone", "$.no.such.path", "string")))
      .select("id", "a", "s", "d", "first", "gone")
      .as[(Long, Option[Long], Option[String], Option[Double], Option[Long], Option[String])]
      .collect().toSet
    assert(got == Set(
      (1L, Some(5L), Some("x"), Some(1.5), Some(10L), None),
      (2L, None, None, None, None, None), // "not-a-number" fails the bigint cast → NULL
      (3L, None, None, None, None, None), // malformed JSON → try_parse_json NULL
      (4L, None, Some("y"), None, None, None)))
  }

  test("shredJson refuses duplicate output names and empty field lists") {
    val df = Seq((1L, "{}")).toDF("id", "js")
    intercept[IllegalArgumentException](SemiStructured.shredJson(df, "js", Nil))
    intercept[IllegalArgumentException](SemiStructured.shredJson(df, "js",
      Seq(Field("x", "$.a", "string"), Field("x", "$.b", "string"))))
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.{Sampling, Sharding}

  private def docs = (0 until 1000)
    .map(i => (i.toLong, if (i % 4 == 0) "en" else "de", if (i % 3 == 0) "web" else "book", 100 + i % 50))
    .toDF("doc_id", "lang", "source", "n_chars")

  test("hash sample is deterministic, partition-layout independent, near the fraction") {
    val a = Sampling.hashSample(docs, "doc_id", 0.3).select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(17), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "kept set must not depend on partitioning")
    assert(math.abs(a.size - 300) < 60, s"got ${a.size}, expected ≈300")
    // different seeds make independent decisions
    val c = Sampling.hashSample(docs, "doc_id", 0.3, seed = "other").select("doc_id").as[Long].collect().toSet
    assert(a != c)
  }

  test("stratified sample applies per-stratum fractions") {
    val kept = Sampling.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 1.0), defaultFraction = 0.0)
    assert(kept.select("lang").distinct().as[String].collect().toSeq == Seq("en"))
    assert(kept.count() == 250)
  }

  test("exact per-stratum sample returns exactly n rows per group, deterministically") {
    val s1 = Sampling.exactSamplePerStratum(docs, "doc_id", Seq("lang"), 10)
    val counts = s1.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 10L, "de" -> 10L))
    val s2 = Sampling.exactSamplePerStratum(docs, "doc_id", Seq("lang"), 10)
    assert(s1.select("doc_id").as[Long].collect().toSet == s2.select("doc_id").as[Long].collect().toSet)
    // a stratum smaller than n survives whole
    val tiny = Sampling.exactSamplePerStratum(docs.filter($"doc_id" < 3), "doc_id", Seq("lang"), 10)
    assert(tiny.count() == 3)
  }

  test("splitByHash: total coverage, layout independence, no cross-refresh migration") {
    val splits = Seq("train" -> 0.7, "val" -> 0.15, "test" -> 0.15)
    val a = Sampling.splitByHash(docs, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a.size == 1000 && a.values.forall(_ != null), "weights sum to 1 ⇒ every row assigned")
    val sizes = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(sizes("train") - 700) < 70, s"train ${sizes("train")}")
    // partition layout must not matter
    val b = Sampling.splitByHash(docs.repartition(13), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
    // a corpus refresh (rows removed) must not move any surviving row's
    // assignment — the randomSplit leakage failure mode
    val c = Sampling.splitByHash(docs.filter($"doc_id" % 7 =!= 0), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    c.foreach { case (id, s) => assert(a(id) == s, s"doc $id migrated $s vs ${a(id)}") }
    // under-allocated weights leave a NULL holdout
    val d = Sampling.splitByHash(docs, "doc_id", Seq("train" -> 0.5))
      .select("split").collect()
    assert(d.exists(_.isNullAt(0)) && d.exists(r => !r.isNullAt(0) && r.getString(0) == "train"))
    // zero shuffle (parquet-backed so the contract is non-vacuous)
    assert(graft.plans.PlanChecks.shuffleCount(
      Sampling.splitByHash(viaParquet(docs), "doc_id", splits)) == 0)
    intercept[IllegalArgumentException](Sampling.splitByHash(docs, "doc_id", Nil))
    intercept[IllegalArgumentException](
      Sampling.splitByHash(docs, "doc_id", Seq("a" -> 0.7, "b" -> 0.5)))
  }

  test("weighted mix keeps everything at weight 1 and tags provenance") {
    val web = docs.filter($"source" === "web")
    val book = docs.filter($"source" =!= "web")
    val mix = Sampling.weightedMix(Seq(("web", web, 1.0), ("book", book, 0.5)), "doc_id")
    val bys = mix.groupBy("mix_source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bys("web") == web.count())
    assert(math.abs(bys("book") - book.count() / 2.0) < 60)
  }

  test("quantile filter keeps the top quarter per stratum; approx path agrees on the threshold") {
    val kept = Sampling.filterByQuantile(docs, "n_chars", 0.75, Seq("lang"))
    // per lang: 50 distinct n_chars values uniformly — p75 keeps ≈ a quarter
    val frac = kept.count().toDouble / docs.count()
    assert(frac > 0.2 && frac < 0.32, s"kept fraction $frac")
    assert(Sampling.filterByQuantile(docs, "n_chars", 0.0, Seq("lang")).count() == 1000)
    val approx = Sampling.filterAboveApproxQuantile(docs, "n_chars", 0.75, Seq("lang"))
    // the two define the p75 boundary slightly differently (percent_rank of
    // the max kept vs interpolated percentile) — thresholds agree within a
    // few grid steps on this 50-value grid
    val exactMin = kept.agg(min($"n_chars")).head().getInt(0)
    val approxMin = approx.agg(min($"n_chars")).head().getInt(0)
    assert(math.abs(approxMin - exactMin) <= 3, s"approx $approxMin vs exact $exactMin")
  }

  test("hash sharding balances token totals; sequence packing respects the budget") {
    val byHash = Sharding.shardByHash(docs, "doc_id", "n_chars", budgetTokens = 20000L)
    val manifest = Sharding.shardManifest(byHash, "n_chars").collect()
    val total = docs.agg(sum($"n_chars")).head().getLong(0)
    assert(manifest.map(_.getAs[Long]("total_tokens")).sum == total, "sharding must partition the corpus")
    assert(manifest.length == ((total + 19999) / 20000).toInt)
    // expected balance: no shard more than 2x the budget on this uniform corpus
    assert(manifest.map(_.getAs[Long]("total_tokens")).max < 40000L)

    // empty corpus: one empty shard column, not an NPE on the null sum
    assert(Sharding.shardByHash(docs.filter($"doc_id" < 0), "doc_id", "n_chars", 1000L).count() == 0)

    // 64-bit ids (normal at 100 TB): the xxhash64 mix is total over longs —
    // a raw Knuth multiply would throw an ANSI overflow error here
    val bigIds = Seq(Long.MaxValue - 1, Long.MaxValue / 2, 1L << 40).toDF("doc_id")
      .withColumn("n_chars", lit(100))
    assert(Sharding.shardByHash(bigIds, "doc_id", "n_chars", 100L)
      .select("shard").as[Long].collect().forall(s => s >= 0 && s < 3))

    val packed = Sharding.packBySequence(docs, "doc_id", "n_chars", budgetTokens = 20000L)
    val m2 = Sharding.shardManifest(packed, "n_chars").collect()
    assert(m2.map(_.getAs[Long]("total_tokens")).sum == total)
    // exact packing: every shard's DOCS START below the boundary, so a shard
    // never exceeds budget + one document
    assert(m2.map(_.getAs[Long]("total_tokens")).max <= 20000L + 149)
    // shard ids are contiguous from 0 in sequence order
    val ids = m2.map(_.getAs[Long]("shard")).sorted
    assert(ids.head == 0L && ids.last == ids.length - 1)
  }

  test("consistent-hash ring: exact coverage, minimal movement, deterministic collisions") {
    import graft.text.Sharding
    val ring = Sharding.consistentHashRing(spark, (0 to 5).map(i => s"m$i"), vnodes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // right-open segments tile [0, 2^32) exactly: no gaps, no overlaps
    assert(ring.head._1 == 0L && ring.last._2 == 4294967296L)
    ring.sliding(2).foreach { case Array((_, hi, _), (lo, _, _)) => assert(hi == lo) }
    // adding a node: every reassigned key lands on the new node
    val keys = viaParquet((1L to 3000L).toDF("id"))
      .withColumn("h", pmod(xxhash64(col("id")), lit(4294967296L)))
      .localCheckpoint(true)
    def assign(nodes: Seq[String]) = graft.operators.IntervalLookup
      .join(keys, Sharding.consistentHashRing(spark, nodes, 8), "h", "lo", "hi")
      .select("id", "node").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = assign((0 to 5).map(i => s"m$i"))
    val after = assign((0 to 6).map(i => s"m$i"))
    assert(before.size == 3000 && after.size == 3000) // total function: every key owned
    val moved = before.keys.filter(k => before(k) != after(k))
    assert(moved.nonEmpty && moved.forall(after(_) == "m6"),
      "reassignments may only target the new node")
    // ring construction is deterministic across invocations
    val again = Sharding.consistentHashRing(spark, (0 to 5).map(i => s"m$i"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(again.toSeq == ring.toSeq)
    intercept[IllegalArgumentException](Sharding.consistentHashRing(spark, Nil, 4))
    intercept[IllegalArgumentException](
      Sharding.consistentHashRing(spark, Seq("a", "a"), 4))
  }

  test("rendezvous sharding: adding a shard moves only keys bound for the new shard") {
    val ids = (1L to 400L).toDF("doc_id")
    val assigned = ids
      .withColumn("s4", Sharding.rendezvousShard(col("doc_id"), 4))
      .withColumn("s5", Sharding.rendezvousShard(col("doc_id"), 5))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // HRW invariant: a changed assignment ALWAYS lands on the new shard
    assert(assigned.forall { case (s4, s5) => s4 == s5 || s5 == 4L })
    val movedFrac = assigned.count { case (s4, s5) => s4 != s5 }.toDouble / assigned.length
    assert(movedFrac > 0.05 && movedFrac < 0.45, s"expected ~1/5 moved, got $movedFrac")
    // single shard degenerates to constant 0
    assert(ids.select(Sharding.rendezvousShard(col("doc_id"), 1)).distinct().head().getLong(0) == 0L)
    assertThrows[IllegalArgumentException](Sharding.rendezvousShard(col("doc_id"), 0))
    // keys hash at their NATIVE type: a string key must work (a cast-to-long
    // would throw under ANSI mode) and still satisfy the HRW invariant
    val strKeys = (1L to 300L).map(i => s"doc-$i").toDF("k")
      .withColumn("s4", Sharding.rendezvousShard(col("k"), 4))
      .withColumn("s5", Sharding.rendezvousShard(col("k"), 5))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(strKeys.forall { case (s4, s5) => s4 == s5 || s5 == 4L })
    assert(strKeys.map(_._1).distinct.length == 4, "string keys spread over all shards")
    // fractional doubles must NOT collapse onto their truncated-long buckets:
    // 0.25 and 0.75 truncate to the same long but are distinct keys
    val dbl = Seq(0.25, 0.75, 1.25, 1.75, 2.25, 2.75).toDF("k")
      .select(Sharding.rendezvousShard(col("k"), 2).as("s")).collect().map(_.getLong(0))
    assert(dbl.distinct.length == 2, "double keys reach both shards, not one truncated bucket")
  }

  test("sequence packing cuts the stream at fixed boundaries; manifest accounts every slot") {
    // group g: 100 + 200 + 50 tokens over seqLen 128 → doc 1 fills [0,100),
    // doc 2 spans [100,300) crossing seqs 0→2, doc 3 sits inside seq 2;
    // plus a zero-token doc and a singleton group exactly one seqLen long
    val d = Seq(
      ("g", 1L, 100L), ("g", 2L, 200L), ("g", 3L, 50L), ("g", 4L, 0L),
      ("h", 9L, 128L)).toDF("source", "doc_id", "n_tok")
    val packed = Sharding.packTrainingSequences(d, "doc_id", "n_tok", 128L, Seq("source"))
    val byId = packed.collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("start_offset"),
        r.getAs[Long]("first_seq"), r.getAs[Long]("last_seq")))).toMap
    assert(byId(1L) == ((0L, 0L, 0L)))
    assert(byId(2L) == ((100L, 0L, 2L)), "a 200-token doc at offset 100 touches seqs 0..2")
    assert(byId(3L) == ((300L, 2L, 2L)))
    assert(byId(4L) == ((350L, 2L, 2L)), "zero-token doc: defined position, no phantom seq")
    assert(byId(9L) == ((0L, 0L, 0L)), "a doc of exactly seqLen stays in seq 0 (offsets 0..127)")

    val m = Sharding.sequenceManifest(packed, "n_tok", 128L, Seq("source")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("seq")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    // every non-final sequence is full; the final one holds the remainder
    assert(m(("g", 0L)) == ((2L, 128L)))
    assert(m(("g", 1L)) == ((1L, 128L)), "seq 1 is filled entirely by doc 2's middle slice")
    assert(m(("g", 2L)) == ((3L, 94L))) // 44 (doc2 tail) + 50 (doc3) + 0 (doc4)
    assert(m(("h", 0L)) == ((1L, 128L)))
    // slot conservation: manifest token totals equal the corpus token total
    assert(m.values.map(_._2).sum == 478L)

    // an empty partition list must be refused (global sort does not scale)
    intercept[IllegalArgumentException] {
      Sharding.packTrainingSequences(d, "doc_id", "n_tok", 128L, Nil)
    }
  }

  test("temporalHoldout holds out each key's LAST ceil(n/5) rows deterministically") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1: 6 events -> ceil(6/5)=2 held out (the two latest);
    // user 2: 1 event -> ceil(1/5)=1 held out (everything)
    val ev = ((1 to 6).map(i => (i.toLong, 1L, ts(f"2024-01-0$i 10:00:00"))) :+
      (7L, 2L, ts("2024-01-01 09:00:00"))).toDF("event_id", "user_id", "ts")
    val got = Sampling.temporalHoldout(ev, "user_id", "ts", "event_id")
      .select("event_id", "split").as[(Long, String)].collect().toMap
    assert(got(6L) == "holdout" && got(5L) == "holdout")
    assert((1L to 4L).forall(got(_) == "train"))
    assert(got(7L) == "holdout")
    // duplicate timestamps: the higher event_id is "later" (tie column)
    val dup = Seq(
      (1L, 9L, ts("2024-01-01 10:00:00")),
      (2L, 9L, ts("2024-01-01 10:00:00")),
      (3L, 9L, ts("2024-01-01 10:00:00")),
      (4L, 9L, ts("2024-01-01 10:00:00")),
      (5L, 9L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val d = Sampling.temporalHoldout(dup, "user_id", "ts", "event_id")
      .select("event_id", "split").as[(Long, String)].collect().toMap
    assert(d(5L) == "holdout" && (1L to 4L).forall(d(_) == "train"))
    intercept[IllegalArgumentException] {
      Sampling.temporalHoldout(dup, "user_id", "ts", "event_id", holdNum = 6L, holdDen = 5L)
    }
  }

  test("quotaBalancedSample: equal quotas + remainder, shortfall surfaces, deterministic") {
    val hash: (org.apache.spark.sql.Column, String) => org.apache.spark.sql.Column =
      (c, s2) => pmod(c * 2654435761L, lit(1000000000L)).cast("double") / 1000000000.0
    // 3 cells: A has 5 rows, B has 5, C has only 1 (shortfall cell)
    val rows = ((1L to 5L).map(i => (i, "A")) ++ (11L to 15L).map(i => (i, "B")) :+ (21L, "C"))
      .toDF("id", "cell")
    // n=7, C=3 -> base 2, first 7%3=1 cell (A) gets +1 -> quotas A:3 B:2 C:2
    val got = Sampling.quotaBalancedSample(rows, Seq("cell"), "id", 7L, "s", hash)
    val byCell = got.groupBy("cell").count().as[(String, Long)].collect().toMap
    assert(byCell == Map("A" -> 3L, "B" -> 2L, "C" -> 1L), s"got $byCell")
    // C's shortfall is visible: quota 2, picked 1
    val cQuota = got.filter($"cell" === "C").select("cell_quota").as[Long].head()
    assert(cQuota == 2L)
    // deterministic under re-partitioning
    val again = Sampling.quotaBalancedSample(
      viaParquet(rows).repartition(5), Seq("cell"), "id", 7L, "s", hash)
    assert(sortedRows(got.select("id")) == sortedRows(again.select("id")))
    intercept[IllegalArgumentException] {
      Sampling.quotaBalancedSample(rows, Seq("cell"), "id", 0L, "s", hash)
    }
  }

  test("domainMedianGate admits domains then filters docs against their median") {
    // domain A: 4 docs, values 10,20,30,40 -> median 25, med2 50; admitted
    //   (minDocs 3, minMedian2 40); docs >= 25 survive: 30, 40
    // domain B: median too low (med2 20 < 40) -> rejected wholesale
    // domain C: too few docs -> rejected
    val rows = Seq(
      ("A", 10L), ("A", 20L), ("A", 30L), ("A", 40L),
      ("B", 10L), ("B", 10L), ("B", 10L),
      ("C", 100L), ("C", 100L)).zipWithIndex
      .map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "grp", "v")
    val got = Sampling.domainMedianGate(rows, "grp", "v", minDocs = 3L, minMedian2 = 40L)
      .select("grp", "v", "med2", "n_docs").as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("A", 30L, 50L, 4L), ("A", 40L, 50L, 4L)))
    // boundary: a doc exactly AT the median survives (2*v >= med2)
    val med = Sampling.domainMedianGate(
      Seq((1L, "D", 5L), (2L, "D", 7L), (3L, "D", 9L)).toDF("id", "grp", "v"),
      "grp", "v", minDocs = 1L, minMedian2 = 0L)
      .select("v").as[Long].collect().sorted.toSeq
    assert(med == Seq(7L, 9L))
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8 quantization: bounded reconstruction error, exact round-trip cases, zero vectors") {
    val d = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector
      (3L, Seq(127.0f, -127.0f, 1.0f, 64.0f)) // scale exactly 1.0
    ).toDF("vec_id", "embedding")
    val out = graft.ml.Quantize.int8(d, "embedding")
      .select("vec_id", "q8", "scale", "recon_err")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getDouble(2), r.getDouble(3)))).toMap

    // maxabs element always quantizes to ±127
    assert(out(1L)._1(1) == -127)
    // per-element error is ≤ scale/2, so the fold is bounded by dim·scale/2
    out.values.foreach { case (_, scale, err) => assert(err <= 4 * scale / 2 + 1e-12) }
    // zero vector: all-zero codes, scale 1, zero error
    assert(out(2L) == ((Seq(0, 0, 0, 0), 1.0, 0.0)))
    // scale 1.0: integers round-trip exactly
    assert(out(3L)._1 == Seq(127, -127, 1, 64) && out(3L)._3 == 0.0)
  }

  test("gramMatrix: hand-computed XᵀX upper triangle, symmetric by construction") {
    val d = Seq(
      (1L, Seq(1, 2, 3)),
      (2L, Seq(-1, 0, 2)),
      (3L, Seq(4, -2, 1))).toDF("vec_id", "q8")
    val got = graft.ml.Quantize.gramMatrix(d, "q8")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // XᵀX rows: [1,2,3],[-1,0,2],[4,-2,1]
    val x = Seq(Seq(1L, 2L, 3L), Seq(-1L, 0L, 2L), Seq(4L, -2L, 1L))
    val expected = (for { i <- 0 to 2; j <- i to 2 }
      yield (i.toLong, j.toLong) -> x.map(r => r(i) * r(j)).sum).toMap
    assert(got == expected)
    assert(got.keySet.forall { case (i, j) => j >= i }) // triangle only
  }

  test("gramMatrix matches a driver-side computation on quantized real vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = graft.ml.Quantize.int8(emb, "embedding")
    val got = graft.ml.Quantize.gramMatrix(q, "q8")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = q.select("q8").collect().map(_.getSeq[Int](0).map(_.toLong))
    val dim = rows.head.size
    val expected = (for { i <- 0 until dim; j <- i until dim }
      yield (i.toLong, j.toLong) -> rows.map(r => r(i) * r(j)).sum).toMap
    assert(got == expected)
  }
}
