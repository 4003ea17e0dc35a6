package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{Similarity, TextAnalysis}

/** Degenerate-CORPUS robustness: inputs the harness tables never contain
  * but a 100 TB crawl certainly will — empty documents and zero-norm
  * (failed-encoder) embeddings. Under ANSI mode (the Spark 4 default) an
  * unguarded division by zero is a JOB ABORT, not a wrong number, so each
  * case here pins both "the job survives" and the documented convention
  * for the undefined value. The degenerate-GROUP twin (single-row /
  * constant z-score and min-max groups) lives in PropertiesSpec.
  */
class DegenerateCorpusSpec extends SparkSpec {

  /** Writes a micro-corpus (documents + embeddings, harness schemas) with
    * one empty document and one all-zeros embedding into a temp sf dir.
    */
  private def degenerateSf(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_degen_sf").toString
    val docs = Seq(
      (0L, "the quick brown fox, jumps!", "en", "web", 27L),
      (1L, "", "en", "web", 0L), // empty text: ratios over 0 chars
      (2L, "a of and to in is the", "en", "synth", 21L),
      (3L, "punctuation... only?!", "en", "web", 21L),
      (4L, null, "en", "web", 0L)) // NULL text: stats propagate null
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val embs = Seq(
      (0L, v(1, 0, 0, 0), 0),
      (1L, v(0, 0, 0, 0), 0), // zero norm, in the default probe range
      (2L, v(0.9, 0.1, 0, 0), 1),
      (3L, v(0, 1, 0, 0), 1),
      (4L, v(0.1, 0.9, 0, 0), 0),
      (5L, v(0.5, 0.5, 0, 0), 1),
      (6L, v(-1, 0, 0, 0), 0),
      (7L, v(0, -1, 0, 0), 1))
      .toDF("vec_id", "embedding", "label")
    embs.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("text_stats survives an empty document; its ratios follow the convention") {
    val dir = degenerateSf()
    val rows = TextAnalysis.textStats(spark, dir).collect()
    assert(rows.length == 5) // empty + null docs are rows, not drops
    // the null-text doc survives with null stats (no abort, no fake 0s)
    val nul = rows.find(_.getLong(0) == 4L).get
    Seq("n_chars", "n_tokens", "punct_ratio", "stop_ratio",
      "quality_score").foreach(c =>
      assert(nul.isNullAt(nul.fieldIndex(c)), s"null-text doc: $c"))
    val empty = rows.find(_.getLong(0) == 1L).get
    assert(empty.getInt(empty.fieldIndex("n_chars")) == 0)
    // split('', ' ') is [''] — one (empty) token, so token ratios stay
    // defined; only the per-char ratio is undefined and goes null
    assert(empty.getInt(empty.fieldIndex("n_tokens")) == 1)
    assert(empty.isNullAt(empty.fieldIndex("punct_ratio")))
    assert(empty.getDouble(empty.fieldIndex("stop_ratio")) == 0.0)
    rows.filter(r => r.getLong(0) != 1L && r.getLong(0) != 4L).foreach { r =>
      val pr = r.getDouble(r.fieldIndex("punct_ratio"))
      assert(pr >= 0.0 && pr <= 1.0, s"doc ${r.getLong(0)}")
    }
  }

  test("sim_search excludes zero-norm vectors from probes and candidates") {
    val dir = degenerateSf()
    val got = Similarity.simSearch(spark, dir).collect()
    assert(got.nonEmpty)
    // vec_id 1 is inside the default probe range but has no direction:
    // it must appear on NEITHER side rather than abort the job (ANSI
    // divide-by-zero) or rank with an undefined score
    assert(!got.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
    got.foreach { r =>
      val sim = r.getDouble(r.fieldIndex("sim"))
      assert(!sim.isNaN && !sim.isInfinite && math.abs(sim) <= 1.0 + 1e-9)
    }
    // the surviving probes still each rank a full neighbor list
    val perProbe = got.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perProbe.keySet == Set(0L, 2L, 3L, 4L))
    assert(perProbe.values.forall(_ == 6)) // 7 non-zero others minus self
  }

  test("IVF-composed incremental dedup survives a corpus smaller than IvfClusters") {
    import org.apache.spark.sql.functions.col
    // 8 vectors against a k=32 coarse quantizer: spark.ml KMeans caps the
    // effective cluster count at the point count, and the composition must
    // ride that rather than abort — the micro-corpus case every unit of
    // corpus infrastructure eventually meets (a fresh pipeline's first
    // day). The zero-norm batch vector (vec_id 1) is excluded at the
    // shared prep chokepoint, same contract as every ANN path.
    val dir = degenerateSf()
    val got = graft.ops.Dedup.dedupEmbedIncrementalIvf(
        spark, dir, col("vec_id") % 2 === 1, tau = 0.9, rerank = 4)
      .collect()
    assert(got.map(_.getLong(0)).toSet == Set(3L, 5L, 7L),
      "batch = odd vec_ids minus the zero-norm one")
    got.foreach { r =>
      Seq("max_corpus_cos", "max_prior_cos").foreach { c =>
        val i = r.fieldIndex(c)
        if (!r.isNullAt(i)) {
          val v = r.getDouble(i)
          assert(!v.isNaN && !v.isInfinite && math.abs(v) <= 1.0 + 1e-9)
        }
      }
    }
  }

  test("certificates never read NULL: an empty batch or probe set certifies nothing") {
    // a global aggregate over no rows leaves its sums NULL; every
    // certificate must still answer with a non-null false
    val dir = degenerateSf()
    Seq(false -> "quant_ok", true -> "ivf_ok").foreach { case (ivf, cert) =>
      val rows = graft.ops.Dedup.embedDecisionChecked(spark, dir, lit(false),
        ivf).collect()
      assert(rows.length == 1, cert)
      val r = rows.head
      assert(r.getLong(r.fieldIndex("n_new")) == 0L, cert)
      val i = r.fieldIndex(cert)
      assert(!r.isNullAt(i) && !r.getBoolean(i), s"$cert on an empty batch")
    }
    val approx = Similarity.simSearch(spark, dir)
    val rows = Similarity.recallCertificate(approx.filter(lit(false)),
      approx, 10, 0.8).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("n_probes")) == 0L)
    val i = r.fieldIndex("recall_ok")
    assert(!r.isNullAt(i) && !r.getBoolean(i), "recall_ok on no probes")
  }

  test("corpus_clean composes over a degenerate corpus, keeping the near-dup representative") {
    import spark.implicits._
    // composition is where degenerate rows resurface: the empty and
    // too-short docs must fall out at the ≥3-token gate (before any
    // ratio math), the two planted 40-token near-dups (trigram Jaccard
    // ≈ 0.95) must collapse to the min-id representative, and the
    // cluster closure must tolerate however few pairs survive
    val dir = Files.createTempDirectory("graft_degen_clean").toString
    val filler = (0 until 38).map(i => s"w$i")
    val good = (filler ++ Seq("the", "and")).mkString(" ")
    val nearDup = (filler.updated(5, "changed") ++ Seq("the", "and"))
      .mkString(" ")
    val docs = Seq(
      (0L, "", "en", "web", 0L),
      (1L, "tiny doc", "en", "web", 8L),
      (2L, "punctuation... only?! ...", "en", "web", 25L),
      (10L, good, "en", "web", good.length.toLong),
      (11L, nearDup, "en", "web", nearDup.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    try {
      val out = graft.ops.Curation.corpusClean(spark, dir).collect()
      assert(out.map(_.getLong(0)).toSeq == Seq(10L))
      assert(out.head.getString(1) == "en")
      assert(out.head.getDouble(2) >= 0.3)
    } finally spark.catalog.clearCache() // the engine's cache contract
  }

  test("text-family API forms run over arbitrary frames with caller parameters") {
    import spark.implicits._
    import graft.ops.{Curation, TextAnalysis}
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta beta delta epsilon zeta"),
      (3L, "alpha delta delta"))
      .toDF("doc_id", "text")

    // vocab top-k at a caller-chosen k: true global counts, count-then-
    // token ordering
    val vocab = TextAnalysis.vocabTopK(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(vocab == Seq(("alpha", 3L), ("beta", 3L)))

    // per-doc top-1 tf-idf: exactly one row per doc, each doc's max score
    val tf1 = TextAnalysis.tfidfTopK(docs, 1).collect()
    assert(tf1.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))

    // redaction with a caller-supplied pattern over a non-harness schema
    val logs = Seq((1L, "user alice@example.com wrote"),
      (2L, "no addresses here")).toDF("id", "line")
    val red = TextAnalysis.textRedact(logs, "id", "line",
      pattern = "[a-z.]+@[a-z.]+", placeholder = "<EMAIL>").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(red(1L) == (("user <EMAIL> wrote", 1)))
    assert(red(2L) == (("no addresses here", 0)))

    // curation thresholds are caller policy: loosening the quality floor
    // can only grow the survivor set
    val corpus = graft.Tables.table(spark, sf, "documents")
    try {
      val strict = Curation.corpusClean(corpus, 0.3, "en").count()
      val loose = Curation.corpusClean(corpus, 0.0, "en").count()
      assert(strict > 0 && loose >= strict)
    } finally spark.catalog.clearCache()
  }

  test("lexical index and search survive empty, all-NULL and " +
      "fewer-docs-than-queries corpora") {
    import spark.implicits._
    import TextAnalysis.{PostingsCap, SearchQueries => qn, SearchTopK => k}
    def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def byParity(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.buildPostingsIncrementalOn(d.filter($"doc_id" % 2 === 0),
        d.filter($"doc_id" % 2 === 1), PostingsCap)
    def run(d: org.apache.spark.sql.DataFrame) = Seq(
      TextAnalysis.buildPostings(d, PostingsCap), byParity(d),
      TextAnalysis.searchLexicalOn(d, qn, k),
      TextAnalysis.searchBm25On(d, qn, k)).map(_.collect().toSeq)
    // nothing to index or to ask: every form is empty, none throws
    val nul: String = null
    Seq(corpus(), corpus(0L -> nul, 1L -> nul)).foreach { d =>
      assert(run(d).forall(_.isEmpty))
    }
    // 3 text-bearing docs < qn queries: every doc present is a query with
    // at most one page, and the index is the brute-force one
    val docs = Seq(1L -> "alpha beta alpha gamma", 2L -> "beta beta delta",
      3L -> "gamma alpha", 4L -> nul)
    val Seq(index, merged, lexical, bm25) = run(corpus(docs: _*))
    val want = docs.filter(_._2 != null)
      .flatMap { case (id, t) => t.split(" ").map(_ -> id) }
      .groupBy(_._1).map { case (tok, occ) =>
        val ids = occ.map(_._2)
        (tok, ids.distinct.size.toLong, ids.size.toLong,
          ids.distinct.sorted.take(PostingsCap).mkString(","))
      }.toSet
    def rows(r: Seq[org.apache.spark.sql.Row]) = r.map(x =>
      (x.getString(0), x.getLong(1), x.getLong(2), x.getString(3))).toSet
    assert(rows(index) == want)
    assert(rows(merged) == want)
    Seq(lexical, bm25).foreach { page =>
      val byQuery = page.groupBy(_.getLong(0))
      assert(byQuery.keySet == Set(1L, 2L, 3L), page)
      byQuery.values.foreach(q =>
        assert(q.map(_.getInt(3)).sorted == (1 to q.size) && q.size <= k, q))
    }
  }

  test("round-12 ops survive the degenerate corpus (nulls, empties)") {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal, TextAnalysis}
    val dir = degenerateSf()
    // quality_score_lm: null text dropped by the documented filter; the
    // empty doc is one empty token and scores without aborting
    val q = TextAnalysis.qualityScoreLm(spark, dir).collect()
    assert(q.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    val empty = q.find(_.getLong(0) == 1L).get
    assert(empty.getAs[Long]("n_tokens") == 1L)
    assert(empty.getAs[Double]("quality_lm") >= 0.0 &&
      empty.getAs[Double]("quality_lm") <= 1.0)
    // dedup_lines API: null text dropped explicitly; the empty doc is a
    // single empty line and survives intact below the threshold
    val dl = Dedup.dedupLinesOn(
      Seq((0L, "a\nb"), (1L, ""), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), minDocs = 5)
      .orderBy("doc_id").collect()
    assert(dl.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(dl(1).getAs[String]("clean_text") == "")
    assert(dl(1).getAs[Long]("n_lines_in") == 1L)
    // dedup_spans: null text dropped; every surviving doc is shorter
    // than the 8-token gram, so the whole corpus is trivially clean
    // (zero grams, zero coverage) — no abort, no fake fractions
    val sp = Dedup.dedupSpans(spark, dir).collect()
    assert(sp.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    sp.foreach { r =>
      assert(r.getAs[Long]("n_grams") ==
        math.max(r.getAs[Long]("n_toks") - 7, 0))
      assert(r.getAs[Long]("covered_tokens") == 0L)
      assert(r.getAs[Double]("dup_frac") == 0.0)
    }
    // image keys run over the 5-doc degenerate corpus: every doc hashes,
    // the planted twin of doc 0 is found, nothing else pairs
    val ph = Multimodal.mmPhash(spark, dir).collect()
    assert(ph.length == 5)
    assert(ph.map(_.getAs[Long]("dhash")).distinct.length == 5)
    val pairs = Multimodal.dedupImage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(pairs == Seq((0L, 0L, "png_jpeg")), pairs.toString)
  }

  test("dedup_spans_strip survives nulls, empties, and total excision") {
    import spark.implicits._
    import graft.ops.Dedup
    // doc 0/1: verbatim twins — the min-id doc keeps ALL its text, the
    // other is fully excised to ''; doc 2: shorter than the gram, passes
    // through intact; doc 3: empty text (one empty token, no grams);
    // doc 4: null text, dropped by the documented filter
    val twin = (1 to 9).map(i => s"w$i").mkString(" ")
    val out = Dedup.dedupSpansStripOn(
      Seq((0L, twin), (1L, twin), (2L, "just a few words"), (3L, ""),
        (4L, null.asInstanceOf[String])).toDF("doc_id", "text"), n = 8)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_toks"),
        r.getAs[Long]("stripped_tokens"), r.getAs[Long]("kept_tokens"),
        r.getAs[String]("clean_text")))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == ((9L, 0L, 9L, twin)))          // canonical keeper
    assert(out(1L) == ((9L, 9L, 0L, "")))            // fully excised
    assert(out(2L) == ((4L, 0L, 4L, "just a few words")))
    assert(out(3L) == ((1L, 0L, 1L, "")))            // [''] round-trips
  }

  test("extract_main_text handles empty bodies, nested tags, empty and" +
      " null text") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // doc 0: %13 AND %7 — empty body wins (no paragraphs to nest in);
    // doc 7: nested <b> in its first paragraph, stripped on extraction;
    // doc 13: empty body; doc 1: ordinary; doc 2: empty text (one empty
    // paragraph); doc 3: null text (dropped)
    val docs = Seq(
      (0L, "zero doc body text"), (7L, "seven doc has nested bold tags"),
      (13L, "thirteen doc body"), (1L, "one plain body"), (2L, ""),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val html = TextAnalysis.htmlStructured(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(html(7L).contains("<p><b>seven doc has nested bold tags</b></p>"))
    assert(!html(0L).contains("<p>") && !html(13L).contains("<p>"))
    val out = TextAnalysis.extractMainTextOn(
      TextAnalysis.htmlStructured(docs)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 7L, 13L))
    assert(out(0L) == (("zero doc body", 0L, "")))
    assert(out(13L) == (("thirteen doc body", 0L, "")))
    assert(out(7L) == (("seven doc has", 1L, "seven doc has nested bold tags")))
    assert(out(1L) == (("one plain body", 1L, "one plain body")))
    assert(out(2L) == (("", 1L, "")))
  }

  test("multimodal payload stand-ins measure UTF-8 BYTES, not characters" +
      " (the ASCII-corpus contract, pinned on a non-ASCII doc)") {
    // ADVICE r13: the mm_audio_features/mm_scene_cuts Spark sides decode
    // the UTF-8 payload BYTES while their per-key DuckDB twins use
    // character arithmetic — sound only because the harness generator is
    // ASCII. This pins the INTENDED semantics (bytes: payload stand-ins
    // model codec input, and a codec sees bytes) so a future non-ASCII
    // corpus fails loudly here, at the contract, instead of silently at
    // the hash gate.
    import spark.implicits._
    import graft.ops.Multimodal
    val doc = Seq((1L, "é" * 40)).toDF("doc_id", "text") // 40 chars, 80 bytes
    val cuts = Multimodal.sceneCutsOn(doc, Multimodal.CutFrameBytes,
      Multimodal.CutThresholdMilli).collect()(0)
    // 80 bytes at 64-byte frames = 2 frames; character arithmetic would
    // see 40 chars = 1 frame
    assert(cuts.getLong(1) == 2L,
      s"scene-cut framing must be byte-based, got ${cuts.getLong(1)} frames")
    val audio = Multimodal.audioFeaturesOn(
      doc.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
      Multimodal.AudioWin, Multimodal.AudioHop)
    // 80 bytes = 40 PCM16 samples < AudioWin(64) -> zero full windows;
    // character arithmetic would see only 20 samples (same zero here, so
    // additionally pin the sample math on an ASCII doc of equal CHAR count
    val ascii = Multimodal.audioFeaturesOn(
      Seq((2L, "a" * 40)).toDF("doc_id", "text")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
      Multimodal.AudioWin, Multimodal.AudioHop)
    assert(audio.count() == 0L && ascii.count() == 0L)
    val longDoc = Seq((3L, "é" * 80)).toDF("doc_id", "text") // 160 bytes
    val wins = Multimodal.audioFeaturesOn(
      longDoc.select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload")),
      Multimodal.AudioWin, Multimodal.AudioHop).count()
    // 160 bytes = 80 samples -> (80 - 64) / 32 + 1 = 1 window; char
    // arithmetic (80 chars = 40 samples) would yield none
    assert(wins == 1L, s"audio windowing must be byte-based, got $wins")
  }

  test("corr_matrix emits null for zero-variance pairs instead of aborting") {
    import spark.implicits._
    import graft.ops.Lifecycle
    // a constant column makes Pearson r undefined — its pairs must go
    // null (not ANSI-abort on the sqrt(0) divisor, not NaN), while the
    // non-degenerate pair still computes; x,y are exactly linear so the
    // exact moments give r = 1.0 and the float certificate holds
    val df = Seq((1.0, 5.0, 2.0), (2.0, 5.0, 4.0), (3.0, 5.0, 6.0))
      .toDF("x", "c", "y")
    val got = Lifecycle.corrMatrix(df, Seq("x", "c", "y")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
    assert(got(("x", "c")) == ((None, None)))
    assert(got(("c", "y")) == ((None, None)))
    assert(got(("x", "y")) == ((Some(1.0), Some(true))))
    // single-row frame: every pair degenerate, still no abort
    val one = Lifecycle.corrMatrix(
      Seq((1.0, 2.0)).toDF("a", "b"), Seq("a", "b")).collect()
    assert(one.length == 1 && one.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("url pre-normalizer repairs each mess class, is idempotent, and " +
      "leaves clean URLs untouched") {
    import spark.implicits._
    import graft.ops.Web
    val cases = Seq(
      // (messy input, expected url_pre)
      ("  https://www.x.com/a/b?q=1#f ", "https://www.x.com/a/b?q=1#f"),
      ("www.x.com/a", "http://www.x.com/a"),                 // scheme-less
      ("//cdn.x.com/lib.js", "http://cdn.x.com/lib.js"),     // proto-rel
      ("https://x.com./a", "https://x.com/a"),               // FQDN dot
      ("https://x.com.:8080/a", "https://x.com:8080/a"),     // dot + port
      ("https://x.com//a///b", "https://x.com/a/b"),         // slash runs
      ("https://x.com/a?u=//v#//w", "https://x.com/a?u=//v#//w"), // data //
      ("https://x.com/a%2fb%2Fc", "https://x.com/a%2Fb%2Fc"), // pct case
      ("https://x.com/100%25%zz", "https://x.com/100%25%zz"), // non-hex %
      ("https://x.com/a", "https://x.com/a"))                 // clean
    val df = cases.zipWithIndex
      .map { case ((m, _), i) => (i.toLong, m) }.toDF("doc_id", "url")
    val got = Web.urlPrenormalizeOn(df).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    cases.zipWithIndex.foreach { case ((m, want), i) =>
      assert(got(i.toLong) == want, s"case $i '$m': got '${got(i.toLong)}'")
    }
    // idempotence: pre(pre(x)) == pre(x)
    val again = Web.urlPrenormalizeOn(
      cases.zipWithIndex.map { case ((_, p), i) => (i.toLong, p) }
        .toDF("doc_id", "url")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    cases.zipWithIndex.foreach { case ((_, p), i) =>
      assert(again(i.toLong) == p, s"not idempotent on '$p'")
    }
    // and the repaired output satisfies the strict canonicalizer's
    // contract: canonicalizing pre'd input never yields '://…'
    val normed = Web.urlNormalizeOn(
      Web.urlPrenormalizeOn(df)
        .select(col("doc_id"), col("url_pre").as("url"))).collect()
    normed.foreach(r => assert(!r.getString(2).startsWith("://")))
  }

  test("quality_pipeline survives an all-equal score distribution: one " +
      "value range, ranks stay exact terciles") {
    // the documented value-range degenerate (TextAnalysis.qualityPipelineOn):
    // when every trained score is identical, all 256 value ranges collapse
    // into range 0 — the two-phase ranking must then degrade to the
    // within-range row_number (score desc, doc_id), NOT lose rank
    // exactness, so the terciles still split the corpus exactly
    import spark.implicits._
    import graft.ops.TextAnalysis
    val text = "the same text in every document of this corpus"
    val docs = (0L until 6L).map(d =>
        (d, text, if (d < 3) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.qualityPipelineOn(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r).toMap
    spark.catalog.clearCache()
    assert(got.size == 6)
    // identical text => identical trained score everywhere
    assert(got.values.map(_.getLong(1)).toSet.size == 1)
    // ranks are the doc_id order, exact and gap-free
    (0L until 6L).foreach(d => assert(got(d).getLong(2) == d))
    // exact terciles despite the collapsed range histogram
    assert((0L to 1L).forall(d => got(d).getString(3) == "head"))
    assert((2L to 3L).forall(d => got(d).getString(3) == "middle"))
    assert((4L to 5L).forall(d => got(d).getString(3) == "tail"))
  }

  test("audio dedup survives degenerate clips: sub-segment and null " +
      "payloads emit no verdict rows, partial trailing segments drop") {
    // the documented fingerprint convention: only COMPLETE segments
    // fingerprint (audioSegmentHashes), so a clip shorter than one
    // segment has no verdict row — it cannot be audio-deduped, which is
    // the honest answer — and a trailing partial run is ignored rather
    // than hashed at an unstable bit width
    import spark.implicits._
    import graft.ops.Multimodal
    val win = Multimodal.AudioFpWin
    val segWin = Multimodal.AudioSegWin
    val segChars = segWin * win * 2
    val clips = Seq[(Long, String)](
      (0L, null), // null payload: dropped by the family convention
      (1L, ""), // empty clip
      (2L, "ab" * (win * 3)), // 3 windows < one segment
      (3L, ("a@" * (win * segWin)) + ("zz" * (win * 5))), // 1 seg + tail
      (4L, "a@" * (win * segWin * 2))) // exactly 2 segments
      .toDF("doc_id", "text")
    assert(clips.filter(col("text").isNotNull &&
      length(col("text")) >= segChars).count() == 2)
    val fp = Multimodal.audioSegmentHashes(clips, win, segWin).collect()
    assert(fp.map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(fp.count(_.getLong(0) == 3L) == 1, "trailing partial dropped")
    assert(fp.count(_.getLong(0) == 4L) == 2)
    val got = Multimodal.dedupAudioOn(clips, win, segWin,
      Multimodal.AudioTauMilli, Multimodal.AudioHamMax).collect()
    spark.catalog.clearCache()
    // verdicts exist exactly for the fingerprintable clips; constant
    // clips 3 and 4 share their constant-energy segment fingerprint
    // (every gradient bit 0), so the banded join matches them and
    // keep-min retains the smaller id
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet == Set(3L, 4L))
    assert(!byId(3L).getBoolean(5), "3 keeps (no smaller partner)")
    assert(byId(4L).getBoolean(5) && byId(4L).getLong(4) == 3L,
      "4 is the dup of 3 at full overlap")
  }

  test("LSH path unit-normalizes safely with a zero-norm vector present") {
    val dir = degenerateSf()
    val got = Similarity.simSearchLsh(spark, dir).collect()
    // candidate generation is probabilistic; the pin is survival plus the
    // exclusion and score contracts on whatever pairs it emits
    assert(!got.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
    got.foreach { r =>
      val sim = r.getDouble(r.fieldIndex("sim"))
      assert(!sim.isNaN && !sim.isInfinite && math.abs(sim) <= 1.0 + 1e-9)
    }
  }

  test("generation cycle degenerates to corpus_compact under an empty " +
      "day-3 batch, and survives an empty day-1 batch") {
    import graft.ops.Curation
    val docs = graft.Tables.table(spark, sf, "documents")
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val emb = graft.Tables.table(spark, sf, "embeddings")
    val bench = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val corpus = live.filter(col("doc_id") % 2 === 0)
    val b1 = live.filter(col("doc_id") % 4 === 1)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList.take(8)
    // EMPTY DAY-3: the cycle IS the compaction — generation-1 rows only,
    // byte-identical to corpus_compact over the same shipped world
    val g = Curation.corpusGenerationCycleOn(corpus, b1, live.limit(0),
      bench, emb, Curation.CompactHostCap).collect()
    spark.catalog.clearCache()
    assert(g.nonEmpty && g.forall(_.getInt(8) == 0),
      "an empty day-3 batch must append nothing")
    val compacted = Curation.corpusCompactOn(corpus, b1, bench, emb,
      Curation.CompactHostCap).collect()
    spark.catalog.clearCache()
    assert(g.map(key).toSet == compacted.map(key).toSet,
      "empty-day-3 cycle must equal corpus_compact")
    // EMPTY DAY-1: states carry the corpus alone; the compaction is the
    // corpus re-shard; day-3 appends contiguously after generation 1
    val b2 = live.filter(col("doc_id") % 4 === 3)
    val g2 = Curation.corpusGenerationCycleOn(corpus, live.limit(0), b2,
      bench, emb, Curation.CompactHostCap).collect()
    spark.catalog.clearCache()
    val g2g1 = g2.filter(_.getInt(8) == 0)
    val g2b2 = g2.filter(_.getInt(8) == 1)
    assert(g2g1.nonEmpty && g2b2.nonEmpty)
    assert(g2b2.map(_.getLong(0)).min == g2g1.map(_.getLong(0)).max + 1,
      "day-3 shards must continue after generation 1's")
    assert(g2b2.map(_.getLong(2)).min == g2g1.map(_.getLong(1)).sum,
      "day-3 positions must continue after generation 1's doc count")
  }
}
