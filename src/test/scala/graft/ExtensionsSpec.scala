package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** §2j extension operator semantics (SURVEY §5): dedup idempotence and
  * recall against the corpus's planted near-duplicates, similarity-search
  * agreement between exact and LSH paths, text-analysis edge cases,
  * multimodal plumbing shape.
  */
class ExtensionsSpec extends SparkSpec {

  test("dedup_exact is idempotent and keeps the lowest doc_id per hash") {
    import spark.implicits._
    val once = Dedup.dedupExact(spark, sf)
    val n = once.count()
    // dedup of unique-text corpus == input; second pass is a no-op
    assert(n == Tables.table(spark, sf, "documents").count())
    assert(once.dropDuplicates("h").count() == n)
    // the tie-break needs ACTUAL duplicates: a fixture with repeated text
    // must keep the LOWEST doc_id of each duplicate group
    val fx = Seq((7L, "same text"), (3L, "same text"), (5L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupExactOn(fx)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(3L, 5L))
  }

  test("dedup_lines strips a planted repeated header, keeps body order") {
    import spark.implicits._
    // 6 docs share a nav header and a footer; each has two unique body
    // lines. minDocs=5 → header+footer are boilerplate, bodies survive in
    // original order; one doc is ALL boilerplate and must survive with
    // empty clean_text (dropping empties is a quality gate, not dedup's).
    val fx = (0L until 6L).map { i =>
      (i, s"NAV home login\nbody $i alpha\nbody $i beta\nCOPYRIGHT footer")
    } :+ (6L, "NAV home login\nCOPYRIGHT footer")
    val out = Dedup.dedupLinesOn(fx.toDF("doc_id", "text"), minDocs = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_lines_in", "n_lines_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out.size == 7)
    (0 until 6).foreach { i =>
      assert(out(i) == (i.toLong, 4L, 2L, s"body $i alpha\nbody $i beta"))
    }
    assert(out(6) == (6L, 2L, 0L, ""))
    // below the threshold nothing is boilerplate: minDocs above the doc
    // count keeps every line of every doc
    val untouched = Dedup.dedupLinesOn(fx.toDF("doc_id", "text"),
      minDocs = 100)
    assert(untouched.agg(sum(col("n_lines_in") - col("n_lines_kept")))
      .as[Long].head() == 0L)
  }

  test("dedup_spans: planted shared runs, interval-union coverage exact") {
    import spark.implicits._
    // docs 1/2 share a 5-token run ("p q r s t"); with n=4 that is two
    // overlapping dup 4-grams per doc (starts 2,3 in doc1; 0,1 in doc2)
    // whose UNION covers 5 tokens — double-counting would report 8
    val fx = Seq(
      (1L, "a b p q r s t x y"),        // 9 toks, starts 2,3 dup
      (2L, "p q r s t m n"),            // 7 toks, starts 0,1 dup
      (3L, "z z2 z3 z4 z5 z6"),         // unique: no dup grams
      (4L, "w x"),                      // shorter than n: zero grams
      (5L, null.asInstanceOf[String]))  // dropped by the family convention
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.dedupSpansOn(fx, n = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "n_grams", "n_dup_grams",
        "covered_tokens", "dup_frac")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got(0) == ((1L, 9L, 6L, 2L, 5L, 0.555556)))
    assert(got(1) == ((2L, 7L, 4L, 2L, 5L, 0.714286)))
    assert(got(2) == ((3L, 6L, 3L, 0L, 0L, 0.0)))
    assert(got(3) == ((4L, 2L, 0L, 0L, 0L, 0.0)))
    // corpus sanity: the planted near-duplicate documents carry high
    // span coverage, and some documents carry none
    val corpus = graft.ops.Dedup.dedupSpans(spark, sf).collect()
      .map(_.getAs[Double]("dup_frac"))
    assert(corpus.exists(_ > 0.8), "planted near-dups should share runs")
    assert(corpus.exists(_ == 0.0))
  }

  test("quality_score_lm: frozen scorer gates compose into corpus_clean") {
    import spark.implicits._
    val scored = TextAnalysis.qualityScoreLm(spark, sf)
    // the gate bit is decided on the exact integer sum, and the logistic
    // score must agree with it at the 0.5 threshold (sigmoid monotone,
    // sum = 0 maps exactly to 0.5)
    val rows = scored.select("w_sum_milli", "quality_lm", "keep_lm")
      .as[(Long, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, q, k) =>
      assert(q >= 0.0 && q <= 1.0)
      assert(k == (s >= 0L))
      assert(k == (q >= 0.5))
    }
    // both gate outcomes occur on the harness corpus (a scorer that
    // passes or fails everything is a broken gate)
    assert(rows.exists(_._3) && rows.exists(!_._3))
    // composition: the scorer drops into corpus_clean as the quality
    // gate, and the gate COMMUTES — pre-filtering the corpus by the gate
    // then running with a trivial threshold is identical (same survivor
    // set => same dedup closure => same representatives)
    import graft.ops.Curation
    val docs = Tables.table(spark, sf, "documents")
    val composed = Curation.corpusClean(docs, 0.5, "en",
      TextAnalysis.qualityLmScore(_))
      .select("doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    val prefiltered = Curation.corpusClean(
      docs.filter(TextAnalysis.qualityLmScore(split(col("text"), " "))
        >= 0.5),
      minQuality = -1.0, "en", TextAnalysis.qualityLmScore(_))
      .select("doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(composed == prefiltered)
    assert(composed.nonEmpty)
  }

  test("quality_score_lm_table: weight-table form is row-identical to" +
      " the plan-literal form, and sparse tables default to weight 0") {
    import spark.implicits._
    val literal = TextAnalysis.qualityScoreLm(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    val table = TextAnalysis.qualityScoreLmTable(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    assert(table == literal)
    // sparse-vector semantics: buckets absent from the table carry
    // weight 0 — an empty table scores every doc sum 0 / sigmoid 0.5
    val docs = Seq((1L, "any words here")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Long)].toDF("bucket", "weight_milli")
    val out = TextAnalysis.qualityScoreLmWeighted(docs, empty, 1024)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("w_sum_milli") == 0L)
    assert(out(0).getAs[Double]("quality_lm") == 0.5)
    assert(out(0).getAs[Boolean]("keep_lm"))
  }

  test("dedup_semantic: planted twins are flagged, each dup pair keeps" +
      " at most one endpoint, singletons keep") {
    import spark.implicits._
    import graft.ops.Dedup
    // hand corpus in 4-d: 1/2 colinear (cosine 1 — semantic dups in the
    // same sign cell by construction), 3 orthogonal-ish, 4 zero (dropped
    // by the prep contract)
    val out = Dedup.dedupSemanticOn(Seq(
      (1L, Seq(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.4f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, -0.3f)),
      (4L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"), dim = 4, tau = 0.9).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L, "twin pair not flagged")
    assert(out(1L)._2 ^ out(2L)._2, "exactly one twin must keep")
    assert(out(3L) == ((0L, true)), "singleton must keep")
    // corpus invariants at harness scale: dups exist (planted embedding
    // twins), every keep=false row has a neighbor, and no τ-pair keeps
    // both endpoints (the one-hop local-min argument: of two mutual
    // neighbors the lexicographically larger always has a better one)
    val corpus = Dedup.dedupSemantic(spark, sf)
    val rows = corpus.collect()
    assert(rows.exists(_.getAs[Long]("n_dup_nbrs") > 0))
    assert(rows.filter(!_.getAs[Boolean]("keep"))
      .forall(_.getAs[Long]("n_dup_nbrs") > 0))
    val k = corpus.select("vec_id", "keep").as[(Long, Boolean)]
      .collect().toMap
    // rebuild the within-cell τ-pairs via the public API output: not
    // directly exposed, so check the weaker global law instead — at
    // least one keeper exists and keepers + one-hop-dropped cover all
    assert(k.values.exists(identity))
  }

  test("dedup_semantic_incremental: cell state is additive, the fixture" +
      " populates all three branches, and cold cells serve c_sim 0") {
    import spark.implicits._
    import graft.ops.Dedup
    // additive-state law on the harness corpus: the states of the two
    // parity halves merge (n_members by sum, sums componentwise) into the
    // whole-corpus state
    val emb = Tables.table(spark, sf, "embeddings")
    val whole = Dedup.semanticCellState(emb, 64).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getSeq[Double](2)))).toMap
    val even = Dedup.semanticCellState(
      emb.filter(col("vec_id") % 2 === 0), 64).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getSeq[Double](2)))).toMap
    val odd = Dedup.semanticCellState(
      emb.filter(col("vec_id") % 2 === 1), 64).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getSeq[Double](2)))).toMap
    assert(whole.keySet == (even.keySet ++ odd.keySet))
    whole.foreach { case (cell, (n, sums)) =>
      val (ne, se) = even.getOrElse(cell, (0L, Seq.fill(64)(0.0)))
      val (no, so) = odd.getOrElse(cell, (0L, Seq.fill(64)(0.0)))
      assert(n == ne + no, s"cell $cell member count not additive")
      sums.indices.foreach { d =>
        assert(math.abs(sums(d) - (se(d) + so(d))) < 1e-9,
          s"cell $cell sum component $d not additive")
      }
    }
    // planted fixture (dim 4, τ=0.95): corpus = even ids, batch = odd.
    // id1 ∥ id2 (corpus dup), id3 ∥ id4 (corpus dup), id5 ∥ id7 with no
    // corpus vector within τ (batch pair — exactly one keeps), id9 near
    // nothing (keep), id11 zero (dropped by the prep contract)
    val out = Dedup.dedupSemanticIncrementalOn(Seq(
      (1L, Seq(2.0f, 0.4f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.2f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 2.0f, -0.6f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, -0.3f)),
      (5L, Seq(0.0f, 0.5f, 1.5f, 0.0f)),
      (7L, Seq(0.0f, 1.0f, 3.0f, 0.0f)),
      (9L, Seq(1.0f, -1.0f, 0.0f, 0.0f)),
      (11L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"),
      col("vec_id") % 2 === 1, dim = 4, tau = 0.95).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Boolean]("is_dup_corpus"),
        r.getAs[Boolean]("is_dup_batch"), r.getAs[Boolean]("keep"))))
      .toMap
    assert(out.keySet == Set(1L, 3L, 5L, 7L, 9L),
      "batch = odd non-zero ids only")
    assert(out(1L)._1 && out(3L)._1, "corpus twins must flag dup_corpus")
    assert(!out(5L)._1 && !out(7L)._1, "5/7 must not be corpus dups")
    assert(out(5L)._3 ^ out(7L)._3, "exactly one of the batch pair keeps")
    assert(out(5L)._2 ^ out(7L)._2, "the other is the batch dup")
    assert(out(9L) == ((false, false, true)), "isolated vector keeps")
    // cold-cell serve: with an empty corpus every batch vector reads
    // c_sim 0.0 and the rule degrades to the pure within-batch form
    val cold = Dedup.dedupSemanticIncrementalOn(Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"), lit(true), dim = 4, tau = 0.95)
      .collect()
    assert(cold.length == 2)
    assert(cold.forall(_.getAs[Double]("c_sim") == 0.0))
    assert(cold.forall(_.getAs[Boolean]("keep")))
    // harness key: batch-side rows only, and every dropped row has a
    // neighbor on the side that dropped it
    val rows = Dedup.dedupSemanticIncremental(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 2 == 1))
    rows.foreach { r =>
      if (r.getAs[Boolean]("is_dup_corpus"))
        assert(r.getAs[Long]("n_nbr_corpus") > 0)
      if (r.getAs[Boolean]("is_dup_batch"))
        assert(r.getAs[Long]("n_nbr_batch") > 0)
      assert(r.getAs[Boolean]("keep") ==
        (!r.getAs[Boolean]("is_dup_corpus") &&
          !r.getAs[Boolean]("is_dup_batch")))
    }
    assert(rows.exists(_.getAs[Boolean]("keep")))
  }

  test("url_normalize: each canonicalization rule verified on hand URLs;" +
      " dedup_url keeps the planted pairs' min doc") {
    import spark.implicits._
    import graft.ops.Web
    def norm(u: String): String =
      Web.urlNormalizeOn(Seq((1L, u)).toDF("doc_id", "url"))
        .select("url_norm").as[String].head()
    // case + default port + tracking params + trailing slash + fragment
    assert(norm("HTTP://WWW.X.com:80/a/?utm_source=x#top") ==
      "http://www.x.com/a")
    // param sort; https default port
    assert(norm("https://h.com:443/p?b=2&a=1") == "https://h.com/p?a=1&b=2")
    // explicit non-default port survives
    assert(norm("https://h.com:8443/p") == "https://h.com:8443/p")
    // empty path serves as root; root slash is kept, not stripped
    assert(norm("https://h.com") == "https://h.com/")
    assert(norm("https://h.com/") == "https://h.com/")
    assert(norm("https://h.com/?utm_medium=m") == "https://h.com/")
    // full tracking blocklist; path case is preserved
    assert(norm("https://h.com/P?fbclid=z&gclid=q") == "https://h.com/P")
    // dedup keep-rule on a hand pair
    val kept = Web.dedupUrlOn(Seq(
      (7L, "HTTPS://A.com/x/"), (3L, "https://a.com:443/x#f"),
      (5L, "https://a.com/y")).toDF("doc_id", "url")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(kept.keySet == Set(3L, 5L))
    assert(kept(3L) == (("https://a.com/x", 2L)))
    assert(kept(5L) == (("https://a.com/y", 1L)))
    // harness-scale planted-pair laws: groups are exactly the two
    // planted pair kinds ({20k,20k+1} and {20k+11,20k+13}, n_variants 2,
    // lower doc survives) plus singletons, and the survivors' variant
    // counts conserve the corpus
    val all = Web.urlNormalize(spark, sf).count()
    val surv = Web.dedupUrl(spark, sf).collect()
    assert(surv.map(_.getLong(2)).sum == all)
    assert(surv.forall(_.getLong(2) <= 2))
    assert(surv.filter(_.getLong(2) == 2)
      .forall(r => r.getLong(0) % 20 == 0 || r.getLong(0) % 20 == 11))
    assert(surv.count(_.getLong(2) == 2) >= 2, "both pair kinds must exist")
  }

  test("url_blocklist: rule kinds, priority and verdicts on hand URLs;" +
      " planted corpus exercises every rule branch") {
    import spark.implicits._
    import graft.ops.Web
    val fx = Seq(
      (1L, "https://bad.com/x"),            // exact domain hit
      (2L, "https://sub.bad.com/x"),        // subdomain hit, same rule
      (3L, "https://notbad.com/x"),         // suffix must NOT match mid-label
      (4L, "https://ok.com/deny/p"),        // prefix hit
      (5L, "https://OK.com:443/deny/p"),    // prefix hit AFTER normalization
      (6L, "https://ok.com/fine"),          // clean
      (7L, "https://bad.com/deny/p")        // both match -> domain wins
    ).toDF("doc_id", "url")
    val got = Web.urlBlocklistOn(fx, Seq("bad.com"),
      Seq("https://ok.com/deny")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), Option(r.getString(3)))))
      .toMap
    assert(got(1L) == ((1, Some("domain:bad.com"))))
    assert(got(2L) == ((1, Some("domain:bad.com"))))
    assert(got(3L) == ((0, None)), "mid-label suffix false positive")
    assert(got(4L) == ((1, Some("prefix:https://ok.com/deny"))))
    assert(got(5L) == ((1, Some("prefix:https://ok.com/deny"))),
      "prefix must apply to the NORMALIZED url")
    assert(got(6L) == ((0, None)))
    assert(got(7L) == ((1, Some("domain:bad.com"))), "domain priority")
    // corpus: every graded rule fires somewhere, and survivors remain
    val rules = Web.urlBlocklist(spark, sf).collect()
      .flatMap(r => Option(r.getString(3)))
    (Web.BlockedDomains.map("domain:" + _) ++
      Web.BlockedPrefixes.map("prefix:" + _)).foreach { r =>
      assert(rules.contains(r), s"rule $r never fires on the plant")
    }
    assert(Web.urlBlocklist(spark, sf)
      .filter(col("blocked") === 0).count() > 0)
  }

  test("idnHostsToAscii: unicode hosts convert to punycode against " +
      "JDK-computed fixtures, ASCII/port/path/query pass through " +
      "untouched, the adapter is idempotent, and it fronts the " +
      "canonicalizer chain cleanly") {
    import graft.ops.Web
    import spark.implicits._
    val feed = Seq(
      (1L, "https://münchen.example/docs/a?q=ü#f"), // unicode host; q/frag kept
      (2L, "http://bücher.de:8080/x"),              // port preserved
      (3L, "https://example.com./docs/a"),          // ASCII + FQDN dot: identity
      (4L, "//пример.example/p"),                   // protocol-relative
      (5L, "münchen.de/bare"),                      // scheme-less
      (6L, "https://example.com/docs/münchen"),     // unicode PATH untouched
      (7L, "https://usér@bücher.de/x"))             // userinfo is not a host
      .toDF("doc_id", "url")
    val got = Web.idnHostsToAscii(feed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // JDK-computed fixtures (the adapter must agree with the platform
    // IDNA it wraps) + one well-known ACE anchor
    assert(got(1L) ==
      s"https://${java.net.IDN.toASCII("münchen.example")}/docs/a?q=ü#f")
    assert(got(2L) == "http://xn--bcher-kva.de:8080/x") // known ACE form
    assert(got(3L) == "https://example.com./docs/a",
      "ASCII host must take the identity path (IDNA would reject the FQDN dot)")
    assert(got(4L) ==
      s"//${java.net.IDN.toASCII("пример.example")}/p")
    assert(got(5L) == s"${java.net.IDN.toASCII("münchen.de")}/bare")
    assert(got(6L) == "https://example.com/docs/münchen",
      "a unicode PATH is data, not authority — must pass through")
    assert(got(7L) ==
      s"https://usér@${java.net.IDN.toASCII("bücher.de")}/x",
      "userinfo must pass through unchanged, never punycoded into the host")
    // idempotence: punycode hosts are ASCII → identity on re-application
    val twice = Web.idnHostsToAscii(Web.idnHostsToAscii(feed)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == got, "adapter is not idempotent")
    // composition: the converted feed (minus the userinfo row — the
    // strict canonicalizer's host alphabet is a separate contract) runs
    // the pre-normalizer → canonicalizer chain, every host pure ASCII
    val normed = Web.urlNormalizeOn(
      Web.urlPrenormalizeOn(
        Web.idnHostsToAscii(feed.filter(col("doc_id") =!= 7)))
        .select(col("doc_id"), col("url_pre").as("url")))
      .select(col("url_norm")).collect().map(_.getString(0))
    assert(normed.length == 6)
    normed.foreach { u =>
      val host = u.replaceFirst("^[a-z][a-z0-9+.-]*://", "")
        .takeWhile(c => c != '/' && c != '?' && c != '#')
      assert(host.forall(_ < 128), s"canonical host not ASCII: $u")
    }
  }

  test("dedup_url_incremental: census is additive, the screen equals the" +
      " recompute-over-union, and both dup branches populate") {
    import graft.ops.Web
    val all = Web.urlStructured(Tables.table(spark, sf, "documents"))
    // additive-census law: the parity halves' censuses merge (n_variants
    // by sum, min_doc by min) into the whole-corpus census
    def censusMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val whole = censusMap(Web.urlCensus(all))
    val even = censusMap(Web.urlCensus(all.filter(col("doc_id") % 2 === 0)))
    val odd = censusMap(Web.urlCensus(all.filter(col("doc_id") % 2 === 1)))
    assert(whole.keySet == (even.keySet ++ odd.keySet))
    whole.foreach { case (u, (n, m)) =>
      val (ne, me) = even.getOrElse(u, (0L, Long.MaxValue))
      val (no, mo) = odd.getOrElse(u, (0L, Long.MaxValue))
      assert(n == ne + no, s"$u count not additive")
      assert(m == math.min(me, mo), s"$u min_doc not a min-merge")
    }
    // the frontier screen's keep set == dedup_url's survivors over the
    // union restricted to the batch (corpus docs predate batch docs in
    // the keep-min order, so the laws coincide)
    val inc = Web.dedupUrlIncremental(spark, sf).collect()
    val unionSurv = Web.dedupUrlOn(all).collect().map(_.getLong(0)).toSet
    inc.foreach { r =>
      assert(r.getAs[Boolean]("keep") == unionSurv.contains(r.getLong(0)),
        s"doc ${r.getLong(0)} keep disagrees with recompute-over-union")
      assert(r.getAs[Boolean]("keep") ==
        (!r.getAs[Boolean]("is_dup_corpus") &&
          !r.getAs[Boolean]("is_dup_batch")))
    }
    // planted branches: straddling pairs make 20k+1 a corpus dup;
    // odd-only pairs keep 20k+11 and flag 20k+13 as the batch dup
    val byId = inc.map(r => r.getLong(0) -> r).toMap
    val corpusDups = inc.filter(_.getAs[Boolean]("is_dup_corpus"))
    val batchDups = inc.filter(_.getAs[Boolean]("is_dup_batch"))
    assert(corpusDups.nonEmpty && corpusDups.forall(_.getLong(0) % 20 == 1))
    assert(batchDups.nonEmpty && batchDups.forall(_.getLong(0) % 20 == 13))
    batchDups.foreach { r =>
      assert(byId(r.getLong(0) - 2).getAs[Boolean]("keep"),
        "the batch pair's min doc must keep")
    }
  }

  test("cap_per_host samples by hash to exactly the cap; host_stats" +
      " conserves the corpus") {
    import spark.implicits._
    import graft.ops.Web
    // hand fixture: 3 docs on one host, cap 2 — the kept pair and the
    // rank order must match an independently computed md5 ordering
    val urls = Seq(
      (1L, "https://a.com/x"), (2L, "https://a.com/y"),
      (3L, "https://a.com/z"), (9L, "https://b.com/w"))
      .toDF("doc_id", "url")
    val kept = Web.capPerHostOn(urls, 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val expect = Seq(1L, 2L, 3L)
      .sortBy(id => (md5hex(s"a.com:$id"), id)).take(2)
    assert(kept.keySet == (expect.toSet + 9L))
    expect.zipWithIndex.foreach { case (id, i) =>
      assert(kept(id) == (("a.com", i + 1)))
    }
    assert(kept(9L) == (("b.com", 1)))
    // harness laws: per-host kept count == min(cap, host size); the cut
    // is non-vacuous on every planted host
    val all = Web.urlNormalize(spark, sf)
      .withColumn("host", regexp_extract(col("url_norm"),
        "^[a-z][a-z0-9+.-]*://([^/:?]+)", 1))
      .groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perHost = Web.capPerHost(spark, sf).groupBy("host").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perHost.keySet == all.keySet)
    perHost.foreach { case (h, n) =>
      assert(n == math.min(Web.HostCap.toLong, all(h)))
    }
    assert(all.values.forall(_ > Web.HostCap),
      "every planted host must be over-cap for the key to be non-vacuous")
    // host_stats conservation: docs sum to the corpus, dup fetches are
    // docs minus pages (the planted duplicate pairs make them nonzero
    // somewhere), and the mean is exactly total/n
    val stats = Web.hostStats(spark, sf).collect()
    val corpus = Tables.table(spark, sf, "documents").count()
    assert(stats.map(_.getAs[Long]("n_docs")).sum == corpus)
    stats.foreach { r =>
      assert(r.getAs[Long]("n_dup_fetches") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_pages"))
      assert(r.getAs[Double]("mean_chars") ==
        r.getAs[Long]("total_chars").toDouble / r.getAs[Long]("n_docs"))
    }
    assert(stats.exists(_.getAs[Long]("n_dup_fetches") > 0))
  }

  test("build_postings equals the brute-force index with capped heads") {
    import graft.ops.TextAnalysis
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val toks = docs.flatMap { case (id, t) =>
      t.split(" ", -1).map(_ -> id) }
    val want = toks.groupBy(_._1).map { case (tok, occ) =>
      val ids = occ.map(_._2)
      tok -> ((ids.distinct.length.toLong, ids.length.toLong,
        ids.distinct.sorted.take(TextAnalysis.PostingsCap).mkString(",")))
    }
    val got = TextAnalysis.buildPostingsQuery(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == want)
    assert(got.values.exists(_._1 > TextAnalysis.PostingsCap),
      "some posting must overflow the cap for the cut to be non-vacuous")
  }

  test("search_lexical equals the brute-force integer-idf ranking") {
    import graft.ops.TextAnalysis
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val queries = docs.take(TextAnalysis.SearchQueries).map {
      case (id, t) => id -> t.split(" ", -1).take(3).distinct.toSet
    }
    val qterms = queries.flatMap(_._2).distinct
    val wt = qterms.map { tk =>
      val df = docs.count(_._2.split(" ", -1).contains(tk)).toLong
      tk -> 1000000L / df
    }.toMap
    val want = queries.flatMap { case (qid, terms) =>
      docs.map { case (did, t) =>
        (qid, did,
          t.split(" ", -1).filter(terms.contains).map(wt).sum)
      }.filter(_._3 > 0L)
        .sortBy { case (_, did, s) => (-s, did) }
        .take(TextAnalysis.SearchTopK).zipWithIndex
        .map { case ((q, d, s), i) => (q, d, s, i + 1) }
    }.toSet
    val got = TextAnalysis.searchLexical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.length == got.toSet.size)
    assert(got.toSet == want)
    // non-vacuous: every query found a full page of results, and at
    // least one score aggregates more than a single occurrence
    assert(got.length ==
      TextAnalysis.SearchQueries * TextAnalysis.SearchTopK)
    assert(got.exists { case (_, _, s, _) => s > wt.values.max })
  }

  test("search_bm25 equals the brute-force fixed-point BM25 ranking") {
    import graft.ops.TextAnalysis
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val dl = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }
      .toMap
    val sTotal = dl.values.sum
    val nTotal = docs.length.toLong
    val queries = docs.take(TextAnalysis.SearchQueries).map {
      case (id, t) => id -> t.split(" ", -1).take(3).distinct.toSet
    }
    val qterms = queries.flatMap(_._2).distinct
    val wt = qterms.map { tk =>
      val df = docs.count(_._2.split(" ", -1).contains(tk)).toLong
      tk -> 1000000L / df
    }.toMap
    // exact integer BM25: per (query, doc, term),
    // (wt·tf·22·S) div (10·S·tf + 3·S + 9·dl·N)
    val want = queries.flatMap { case (qid, terms) =>
      docs.map { case (did, t) =>
        val s = terms.toSeq.map { tk =>
          val tf = t.split(" ", -1).count(_ == tk).toLong
          if (tf == 0L) 0L
          else (wt(tk) * tf * 22L * sTotal) /
            (10L * sTotal * tf + 3L * sTotal + 9L * dl(did) * nTotal)
        }.sum
        (qid, did, s)
      }.filter(_._3 > 0L)
        .sortBy { case (_, did, s) => (-s, did) }
        .take(TextAnalysis.SearchTopK).zipWithIndex
        .map { case ((q, d, s), i) => (q, d, s, i + 1) }
    }.toSet
    val got = TextAnalysis.searchBm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.length == got.toSet.size)
    assert(got.toSet == want)
    // the saturation must actually bite: BM25 and the idf-only ranking
    // must disagree somewhere, else the key is a re-grade of
    // search_lexical
    val lex = TextAnalysis.searchLexical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got.map(r => (r._1, r._2, r._4)).toSet != lex,
      "BM25 ranking must differ from the idf-only ranking")
  }

  test("gopher_rules: every rule fires on its planted degenerate case") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val organic = (("the cat sat on the mat and looked at the dog " * 5) +
      "the end").trim // 56 words, stopword-rich, alphabetic
    val rows = Seq(
      1L -> organic, // passes every rule
      2L -> "short doc with the and of in it", // < 50 words
      3L -> ("ab " * 59 + "ab").trim, // mean word len 2 < 3, no stopwords
      4L -> (("the " * 50).trim + " " + ("1234 " * 20).trim +
        " " + ("99 " * 20).trim), // digit words: alpha frac < 0.8
      5L -> (organic + " " + ("#" * 30).split("").mkString(" ")).trim,
      6L -> (0 until 60).map(i => s"- item $i the of and").mkString("\n"),
      7L -> (0 until 60).map(i => s"line $i the of and so...").mkString("\n"),
      8L -> organic.replace("the", "xqz")
        .replace("and", "qnd") // no stopwords left
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRulesOn(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(8), "organic doc must pass")
    assert(!got(2L).getBoolean(8) && got(2L).getLong(1) < 50L)
    assert(!got(3L).getBoolean(8) && got(3L).getDouble(2) < 3.0)
    assert(!got(4L).getBoolean(8) && got(4L).getDouble(3) < 0.8)
    assert(!got(5L).getBoolean(8) && got(5L).getDouble(4) > 0.1)
    assert(!got(6L).getBoolean(8) && got(6L).getDouble(5) > 0.9)
    assert(!got(7L).getBoolean(8) && got(7L).getDouble(6) > 0.3)
    assert(!got(8L).getBoolean(8) && got(8L).getLong(7) < 2L)
    // the graded corpus key: word floor and stop-hits both bite, nothing
    // degenerate slips through as NaN/null
    val corpus = TextAnalysis.gopherRules(spark, sf).collect()
    assert(corpus.exists(_.getBoolean(8)))
    assert(corpus.exists(r => !r.getBoolean(8) && r.getLong(1) < 50L))
    assert(corpus.exists(r => !r.getBoolean(8) && r.getLong(7) < 2L))
    assert(corpus.forall(r => !r.isNullAt(2) && !r.isNullAt(8)))
  }

  test("corpus_pipeline: stages compose, every content gate bites, and " +
      "the manifest is loader-consistent") {
    import graft.ops.{Curation, Web, TextAnalysis}
    val docs = Tables.table(spark, sf, "documents")
    val nCorpus = docs.filter(col("doc_id") >= 20).count()
    val urls = Web.urlStructured(docs.filter(col("doc_id") >= 20))
    val nUnblocked = Web
      .urlBlocklistOn(urls, Web.BlockedDomains, Web.BlockedPrefixes)
      .filter(col("blocked") === 0).count()
    assert(nUnblocked < nCorpus, "blocklist must drop documents")
    val manifest = Curation.corpusPipeline(spark, sf).collect()
    assert(manifest.nonEmpty)
    val nFinal = manifest.map(_.getLong(1)).sum
    // the post-URL-surface ceiling: ≤ HostCap docs per planted host
    assert(nFinal > 0 && nFinal < nUnblocked)
    // manifest self-consistency: contiguous positions, plural docs,
    // well-formed digests, sequence counts match the budget arithmetic
    val positions = manifest.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(positions.head._1 == 0L)
    assert(positions.sliding(2).forall {
      case Array((_, hi), (lo2, _)) => lo2 == hi + 1
      case _ => true
    })
    assert(manifest.forall(_.getString(7).matches("[0-9a-f]{32}")))
    assert(manifest.forall(r =>
      r.getLong(6) == (r.getLong(5) + 1023L) / 1024L))
    // the content gates (extract/lines/gopher/spans/semantic/decontam)
    // must collectively bite below the URL-stage ceiling
    val capped = Web.capPerHostOn(
      urls.join(Web.dedupUrlOn(urls).select(col("doc_id")),
        Seq("doc_id"), "left_semi"),
      Web.HostCap).count()
    assert(nFinal < capped,
      s"content gates must cut below the URL-stage ceiling ($capped)")
  }

  test("corpus_pipeline_incremental: corpus shards immutable, append-only " +
      "geometry, corpus states bite, re-fed corpus fully absorbed") {
    import graft.ops.Curation
    val docs = Tables.table(spark, sf, "documents")
    val emb = Tables.table(spark, sf, "embeddings")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.take(8).toList
    val out = Curation.corpusPipelineIncremental(spark, sf).collect()
    spark.catalog.clearCache()
    val (cRows, bRows) = out.partition(_.getInt(8) == 0)
    assert(cRows.nonEmpty && bRows.nonEmpty)
    // IMMUTABILITY: the is_batch=0 rows are byte-identical to the corpus's
    // own full-pipeline run — appending a batch never rewrites a shipped
    // shard (the trainer may already hold it)
    val corpusOnly = Curation.corpusPipelineOn(
      docs.filter(col("doc_id") < 20 || col("doc_id") % 2 === 0), emb)
      .collect()
    spark.catalog.clearCache()
    assert(cRows.map(key).toSet == corpusOnly.map(key).toSet,
      "batch append must not perturb corpus shards")
    // APPEND-ONLY GEOMETRY: batch shards start after the corpus's last
    // shard, positions continue contiguously after the corpus's last doc
    val cMax = cRows.map(_.getLong(0)).max
    val cN = cRows.map(_.getLong(1)).sum
    assert(bRows.map(_.getLong(0)).min == cMax + 1)
    val bPos = bRows.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(bPos.head._1 == cN, "batch positions must continue the corpus")
    assert(bPos.sliding(2).forall {
      case Array((_, hi), (lo2, _)) => lo2 == hi + 1
      case _ => true
    })
    assert(out.forall(_.getString(7).matches("[0-9a-f]{32}")))
    // THE STATES BITE: the screened batch keeps strictly fewer docs than
    // the same batch run through the FULL pipeline standalone (the
    // straddling planted pairs are corpus dups only the censuses can see)
    val standalone = Curation.corpusPipelineOn(
      docs.filter(col("doc_id") < 20 || col("doc_id") % 2 === 1), emb)
      .collect()
    spark.catalog.clearCache()
    assert(bRows.map(_.getLong(1)).sum < standalone.map(_.getLong(1)).sum,
      "corpus states must remove batch docs the standalone run keeps")
    // ABSORPTION: re-feeding the shipped corpus as the batch appends
    // NOTHING — every re-crawled URL is a corpus dup at the frontier
    // screen, so the output is exactly the corpus manifest
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val corpusEven = live.filter(col("doc_id") % 2 === 0)
    val refed = Curation.corpusPipelineIncrementalOn(corpusEven, corpusEven,
      docs.filter(col("doc_id") < 20 && col("text").isNotNull), emb)
      .collect()
    spark.catalog.clearCache()
    assert(refed.forall(_.getInt(8) == 0), "re-fed corpus must append nothing")
    assert(refed.map(key).toSet == corpusOnly.map(key).toSet)
  }

  test("dedup_video: planted re-uploads flagged via the perceptual path, " +
      "partial re-edits measured below tau, keep-min holds") {
    import graft.ops.Multimodal
    val got = Multimodal.dedupVideo(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val maxDoc = got.keys.max
    val fullPairs = got.keys.filter(d => d % 10 == 0 && got.contains(d + 1))
    assert(fullPairs.nonEmpty)
    // jittered re-uploads: the byte bump breaks EXACT frame equality
    // (hamming 1-2 > 0), so a flagged pair proves the perceptual path
    val flagged = fullPairs.count { d =>
      val hi = got(d + 1)
      hi.getBoolean(5) && !got(d).getBoolean(5) &&
        hi.getLong(4) == d // min partner of the copy is the original
    }
    assert(flagged * 10 >= fullPairs.size * 8,
      s"only $flagged/${fullPairs.size} planted pairs flagged keep-min")
    // partial re-edits (2 of 4 scenes shared) sit below τ — except the
    // ~1/144 tail where BOTH free scene boundaries land on equal DC
    // levels (the video then has only shared keyframes); allow that tail
    val partials = got.keys.filter(d => d % 10 == 6 && d >= 6)
    assert(partials.nonEmpty)
    assert(partials.count(d => !got(d).getBoolean(5)) * 10 >=
      partials.size * 9,
      "partials must overwhelmingly stay below tau")
    assert(partials.count(d => got(d).getLong(2) > 0) * 10 >=
      partials.size * 8, "partial overlap must be MEASURED (dup kfs > 0)")
    // verdict arithmetic is exact milli
    got.values.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 1000 / r.getLong(1))
    }
    val _ = maxDoc
  }

  test("dedup_video_incremental: straddling copies are corpus dups, " +
      "odd-only pairs resolve keep-min within the batch") {
    import graft.ops.Multimodal
    val got = Multimodal.dedupVideoIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    spark.catalog.clearCache()
    // only batch (odd) videos are screened
    assert(got.keys.forall(_ % 2 == 1))
    // {10k, 10k+1}: the odd copy duplicates a corpus video
    val copies = got.keys.filter(d => d % 10 == 1)
    assert(copies.nonEmpty)
    assert(copies.count(d => got(d).getBoolean(7)) * 10 >=
      copies.size * 8, "straddling copies must be corpus dups")
    // {20k+5, 20k+7}: odd-only pair — 5 keeps (no smaller partner),
    // 7 is the batch dup with min partner 5
    val pairs = got.keys
      .filter(d => d % 20 == 5 && got.contains(d + 2)).toSeq
    assert(pairs.nonEmpty)
    val resolved = pairs.count { d =>
      val lo = got(d); val hi = got(d + 2)
      lo.getBoolean(9) && !lo.getBoolean(7) && !lo.getBoolean(8) &&
        hi.getBoolean(8) && hi.getLong(6) == d
    }
    assert(resolved * 10 >= pairs.size * 8,
      s"only $resolved/${pairs.size} odd-only pairs resolved keep-min")
    // fractions are exact milli and the three verdicts partition
    got.values.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000 / r.getLong(1))
      assert(r.getLong(5) == r.getLong(3) * 1000 / r.getLong(1))
      val states = Seq(r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))
      assert(states.count(identity) == 1, s"doc ${r.getLong(0)}: $states")
    }
  }

  test("dedup_audio: planted re-encodes flagged via the fingerprint path, " +
      "partial re-edits measured at exactly 500 milli, keep-min holds") {
    import graft.ops.Multimodal
    val got = Multimodal.dedupAudio(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    spark.catalog.clearCache()
    // {10k, 10k+1}: the jittered copy's bytes differ in every segment
    // (exact dedup would miss), the fingerprint moves <= 2 hamming bits
    // (the perceptual path matches) — deterministic, so EVERY pair flags
    val fullPairs = got.keys.filter(d => d % 10 == 0 && got.contains(d + 1))
    assert(fullPairs.nonEmpty)
    fullPairs.foreach { d =>
      val hi = got(d + 1)
      assert(hi.getBoolean(5) && hi.getLong(4) == d,
        s"copy ${d + 1} must flag with min partner $d")
      assert(!got(d).getBoolean(5), s"original $d keeps (keep-min)")
      assert(hi.getLong(3) == 1000L, s"copy ${d + 1} matches all segments")
    }
    // {10k+6}: first two of four segments shared — exactly 500 milli,
    // measured but below tau
    val partials = got.keys.filter(d => d % 10 == 6 && d >= 6)
    assert(partials.nonEmpty)
    partials.foreach { d =>
      assert(got(d).getLong(3) == 500L, s"partial $d at 500 milli")
      assert(!got(d).getBoolean(5), s"partial $d below tau")
      assert(got(d).getLong(4) == d - 6, s"partial $d min partner")
    }
    // verdict arithmetic is exact milli
    got.values.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 1000 / r.getLong(1))
      assert(r.getLong(1) == Multimodal.AudioSegs.toLong)
    }
    // COMPOSITION PIN: the decode-loop fingerprints equal a reference
    // folded from the graded mm_audio_features operator's window
    // energies at hop = win (the fast path computes the SAME feature)
    val clips = Multimodal.audioStructured(
      Tables.table(spark, sf, "documents").limit(40)).persist()
    val fp = Multimodal.audioSegmentHashes(clips,
        Multimodal.AudioFpWin, Multimodal.AudioSegWin).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val ref = Multimodal.audioFeaturesOn(
        clips.select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        Multimodal.AudioFpWin, Multimodal.AudioFpWin).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2 / Multimodal.AudioSegWin))
      .map { case (k, ws) =>
        val es = ws.sortBy(_._2).map(_._3)
        k -> (1 until es.length).map(i =>
          if (es(i) > es(i - 1)) 1L << (i - 1) else 0L).sum
      }
    spark.catalog.clearCache()
    assert(fp == ref, "decode-loop fingerprints must equal the " +
      "audioFeaturesOn-derived fold")
  }

  test("dedup_audio_incremental: straddling copies are corpus dups, " +
      "odd-only pairs resolve keep-min within the batch") {
    import graft.ops.Multimodal
    val got = Multimodal.dedupAudioIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    spark.catalog.clearCache()
    assert(got.keys.forall(_ % 2 == 1)) // only batch clips are screened
    // {10k, 10k+1}: the odd copy duplicates a corpus clip — all segments
    val copies = got.keys.filter(d => d % 10 == 1)
    assert(copies.nonEmpty)
    copies.foreach { d =>
      assert(got(d).getBoolean(7) && got(d).getLong(4) == 1000L,
        s"straddling copy $d must be a corpus dup")
    }
    // {20k+5, 20k+7}: odd-only pair — 5 keeps (no smaller partner),
    // 7 is the batch dup with min partner 5
    val pairs = got.keys
      .filter(d => d % 20 == 5 && got.contains(d + 2)).toSeq
    assert(pairs.nonEmpty)
    pairs.foreach { d =>
      val lo = got(d); val hi = got(d + 2)
      assert(lo.getBoolean(9) && !lo.getBoolean(7) && !lo.getBoolean(8),
        s"$d keeps")
      assert(hi.getBoolean(8) && hi.getLong(6) == d,
        s"${d + 2} is the batch dup of $d")
    }
    // fractions are exact milli and the three verdicts partition
    got.values.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000 / r.getLong(1))
      assert(r.getLong(5) == r.getLong(3) * 1000 / r.getLong(1))
      val states = Seq(r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))
      assert(states.count(identity) == 1, s"doc ${r.getLong(0)}: $states")
    }
  }

  test("corpus_states_update: day-1 equals the incremental flagship, " +
      "geometry contiguous, merged states bite, re-fed batch absorbed") {
    import graft.ops.Curation
    val docs = Tables.table(spark, sf, "documents")
    val emb = Tables.table(spark, sf, "embeddings")
    val bench = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val corpus = live.filter(col("doc_id") % 2 === 0)
    val b1 = live.filter(col("doc_id") % 4 === 1)
    val b2 = live.filter(col("doc_id") % 4 === 3)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.take(8).toList
    val out = Curation.corpusStatesUpdate(spark, sf).collect()
    spark.catalog.clearCache()
    val byDay = out.groupBy(_.getInt(8))
      .withDefaultValue(Array.empty[org.apache.spark.sql.Row])
    assert(byDay(0).nonEmpty && byDay(1).nonEmpty && byDay(2).nonEmpty)
    // DAY-1 EQUALS THE INCREMENTAL FLAGSHIP: batch-1 against the day-1
    // states is exactly corpus_pipeline_incremental's batch side
    val incr1 = Curation.corpusPipelineIncrementalOn(corpus, b1, bench, emb)
      .collect()
    spark.catalog.clearCache()
    assert(byDay(0).map(key).toSet ==
      incr1.filter(_.getInt(8) == 0).map(key).toSet)
    assert(byDay(1).map(key).toSet ==
      incr1.filter(_.getInt(8) == 1).map(key).toSet)
    // APPEND GEOMETRY: shard ids and positions contiguous across days
    val ordered = out.sortBy(_.getLong(0))
    assert(ordered.map(_.getLong(0)).toSeq ==
      (0L until ordered.length.toLong))
    val spans = ordered.map(r => (r.getLong(2), r.getLong(3)))
    assert(spans.head._1 == 0L)
    assert(spans.sliding(2).forall {
      case Array((_, hi), (lo2, _)) => lo2 == hi + 1
      case _ => true
    }, "positions must continue across days")
    // days ascend with shard id (appended, never interleaved)
    assert(ordered.map(_.getInt(8)).toSeq == ordered.map(_.getInt(8))
      .toSeq.sorted)
    // THE MERGED STATES BITE: batch-2 against the UPDATED states keeps
    // strictly fewer docs than against the day-1 states alone (the
    // odd-only planted URL pairs straddle the two batches, so their
    // batch-2 member is absorbed only once batch-1 is in the census)
    val day1Only = Curation.corpusPipelineIncrementalOn(corpus, b2,
      bench, emb).collect()
    spark.catalog.clearCache()
    assert(byDay(2).map(_.getLong(1)).sum <
      day1Only.filter(_.getInt(8) == 1).map(_.getLong(1)).sum,
      "day-2 states must remove batch-2 docs day-1 states keep")
    // ABSORPTION: re-feeding batch-1 as the day-2 batch appends NOTHING
    // — every batch-1 URL is in the updated census at the frontier
    val refed = Curation.corpusStatesUpdateOn(corpus, b1, b1, bench, emb)
      .collect()
    spark.catalog.clearCache()
    assert(refed.forall(_.getInt(8) <= 1),
      "re-fed batch-1 must append nothing on day 2")
    assert(refed.map(key).toSet == out.filter(_.getInt(8) <= 1)
      .map(key).toSet)
  }

  test("corpus_compact: the revised budget holds and bites across days; " +
      "an unchanged-budget compaction is a pure re-shard") {
    import graft.ops.{Curation, Web}
    val docs = Tables.table(spark, sf, "documents")
    val emb = Tables.table(spark, sf, "embeddings")
    val bench = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val corpus = live.filter(col("doc_id") % 2 === 0)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val got = Curation.corpusCompact(spark, sf).collect()
    spark.catalog.clearCache()
    assert(got.nonEmpty)
    // THE BUDGET HOLDS: 7 planted hosts at the compaction cap bound the
    // whole retained corpus
    assert(got.map(_.getLong(1)).sum <= 7L * Curation.CompactHostCap)
    // generation bump: shards restart at 0, positions contiguous from 0
    val ordered = got.sortBy(_.getLong(0))
    assert(ordered.map(_.getLong(0)).toSeq ==
      (0L until ordered.length.toLong))
    assert(ordered.head.getLong(2) == 0L)
    // THE CAP BITES ACROSS DAYS: compaction retains strictly fewer docs
    // than the shipped day-0 + day-1 manifests (each day sat under the
    // crawl cap; only the union exceeds the compaction budget)
    val shipped = Curation.corpusPipelineIncremental(spark, sf).collect()
    spark.catalog.clearCache()
    assert(got.map(_.getLong(1)).sum < shipped.map(_.getLong(1)).sum,
      "the re-enforced budget must retire shipped docs")
    // UNCHANGED BUDGET, EMPTY BATCH: compaction degenerates to a pure
    // re-shard — the manifest is byte-identical to the corpus's own run
    // (each day already honored the crawl cap, and the re-shard uses the
    // same deterministic epoch-0 order)
    val reshard = Curation.corpusCompactOn(corpus, live.limit(0), bench,
      emb, Web.HostCap).collect()
    spark.catalog.clearCache()
    val corpusOnly = Curation.corpusPipelineOn(
      docs.filter(col("doc_id") < 20 || col("doc_id") % 2 === 0), emb)
      .collect()
    spark.catalog.clearCache()
    assert(reshard.map(key).toSet == corpusOnly.map(key).toSet,
      "unchanged-budget compaction must be a pure re-shard")
  }

  test("corpus_generation_cycle: seen-ness survives compaction — a " +
      "retired doc's re-crawled URL stays screened out of the day-3 " +
      "batch, and the cursor resets to the generation-1 world") {
    import graft.ops.{Curation, Web}
    val docs = Tables.table(spark, sf, "documents")
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val batch2 = live.filter(col("doc_id") % 4 === 3)
    val parts = Curation.generationCycleOn(
      live.filter(col("doc_id") % 2 === 0),
      live.filter(col("doc_id") % 4 === 1),
      batch2,
      docs.filter(col("doc_id") < 20 && col("text").isNotNull),
      Tables.table(spark, sf, "embeddings"),
      Curation.CompactHostCap)
    try {
      val c = parts.contract
      val shipped = c.shipped.collect().map(_.getLong(0)).toSet
      val retained = c.retained.collect().map(_.getLong(0)).toSet
      val keptB2 = c.batchKept.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      assert(retained.subsetOf(shipped))
      assert(retained.size < shipped.size,
        "compaction must retire docs for the pin to be non-vacuous")
      assert(keptB2.nonEmpty, "day-3 batch must keep something")
      // batch-2 docs whose canonical URL the carried census has seen,
      // split by the census holder's fate
      val b2seen = Web.urlNormalizeOn(Web.urlStructured(batch2))
        .select(col("doc_id"), col("url_norm"))
        .join(c.urlCensus.select(col("url_norm"), col("min_doc")),
          Seq("url_norm"))
        .select(col("doc_id"), col("min_doc"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // the RETIREMENT branch is real: at least one batch-2 URL's
      // census holder shipped and was then capped away at compaction
      val ofRetired = b2seen.collect {
        case (d, holder) if shipped(holder) && !retained(holder) => d
      }.toSet
      assert(ofRetired.nonEmpty,
        "no retired-then-refetched case planted — pin is vacuous")
      // the contract: seen-ness is append-only — EVERY census-seen
      // batch-2 URL is screened out, retired holder or not
      val seenDocs = b2seen.map(_._1).toSet
      assert(seenDocs.forall(!keptB2.contains(_)),
        "a re-crawled seen URL re-entered the corpus after compaction")
      // the cursor resets to generation 1: batch-2 shards/positions
      // continue after the COMPACTED manifest, not the pre-compaction one
      val man = parts.manifest.collect()
      val g1 = man.filter(_.getInt(8) == 0)
      val b2man = man.filter(_.getInt(8) == 1)
      assert(g1.nonEmpty && b2man.nonEmpty)
      val g1MaxShard = g1.map(_.getLong(0)).max
      val g1Docs = g1.map(_.getLong(1)).sum
      assert(b2man.map(_.getLong(0)).min == g1MaxShard + 1,
        "batch-2 shards must continue after generation 1's")
      assert(b2man.map(_.getLong(2)).min == g1Docs,
        "batch-2 positions must continue after generation 1's doc count")
    } finally spark.catalog.clearCache()
  }

  test("corpus_multimodal_generation_cycle: media seen-ness survives " +
      "compaction — a retired doc's re-encoded media re-crawl stays " +
      "screened, and the day-2 band MERGE screens batch-1 partners") {
    import graft.ops.Curation
    val docs = Tables.table(spark, sf, "documents")
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val liveIds = live.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val parts = Curation.multimodalGenerationCycleOn(
      live.filter(col("doc_id") % 2 === 0),
      live.filter(col("doc_id") % 4 === 1),
      live.filter(col("doc_id") % 4 === 3),
      docs.filter(col("doc_id") < 20 && col("text").isNotNull),
      Tables.table(spark, sf, "embeddings"),
      Curation.CompactHostCap, materializeContract = true)
    try {
      val c = parts.contract
      val shipped = c.shipped.collect().map(_.getLong(0)).toSet
      val retained = c.retained.collect().map(_.getLong(0)).toSet
      val dropB2 = c.mediaDropB2.collect().map(_.getLong(0)).toSet
      val keptB2 = c.batchKept.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      assert(retained.subsetOf(shipped))
      assert(retained.size < shipped.size,
        "compaction must retire docs for the pin to be non-vacuous")
      assert(keptB2.nonEmpty, "day-3 batch must keep something")
      // the planted batch-2 media-dup classes, by partner location:
      // CORPUS partners — 10k+1 (video+audio re-encode of 10k) and
      // 10k+3 (image JPEG re-encode of 10k+2) when % 4 = 3; BATCH-1
      // partners — 20k+7 pairs with 20k+5, which is always % 4 = 1
      val b2 = liveIds.filter(_ % 4 == 3)
      val corpusPartner = b2.filter(d =>
        (d % 10 == 1 || d % 10 == 3) && liveIds.contains(d - 1))
      val batch1Partner = b2.filter(d =>
        d % 20 == 7 && liveIds.contains(d - 2))
      assert(corpusPartner.nonEmpty && batch1Partner.nonEmpty,
        "both partner classes must be planted")
      // the carry: EVERY batch-2 doc whose media the band states have
      // seen is screened, whatever its holder's fate
      assert(corpusPartner.forall(dropB2),
        s"corpus-partner media dups leaked: ${corpusPartner -- dropB2}")
      // the day-2 band MERGE is graded, not just the carry: batch-2
      // docs whose partner arrived IN BATCH-1 are corpus dups only
      // because the merge appended batch-1's bands
      assert(batch1Partner.forall(dropB2),
        s"batch-1-partner media dups leaked: ${batch1Partner -- dropB2}")
      // the RETIREMENT branch is real: some corpus partner shipped and
      // was then capped away at compaction — its re-encoded batch-2
      // media re-crawl must STILL be screened (band tables never forget)
      val ofRetired = corpusPartner
        .filter(d => shipped(d - 1) && !retained(d - 1))
      assert(ofRetired.nonEmpty,
        "no retired-then-re-crawled media case planted — pin is vacuous")
      assert(ofRetired.forall(dropB2),
        "a retired doc's re-encoded media re-crawl re-entered the corpus")
      // screened media dups never reach the text chain's kept set
      assert(dropB2.forall(!keptB2.contains(_)))
      // the cursor resets to generation 1 (the text cycle's geometry)
      val man = parts.manifest.collect()
      val g1 = man.filter(_.getInt(8) == 0)
      val b2man = man.filter(_.getInt(8) == 1)
      assert(g1.nonEmpty && b2man.nonEmpty)
      assert(b2man.map(_.getLong(0)).min == g1.map(_.getLong(0)).max + 1,
        "batch-2 shards must continue after generation 1's")
    } finally spark.catalog.clearCache()
  }

  test("corpus_pipeline_multimodal: every media rung bites " +
      "independently, the mixed flagship equals the text flagship over " +
      "media survivors, and the gates change the manifest") {
    import graft.ops.{Curation, Multimodal}
    val docs = Tables.table(spark, sf, "documents")
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val liveIds = ids(live)
    val vDrop = ids(Multimodal.dedupVideoOn(
        Multimodal.videoStructured(live).persist(),
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
        Multimodal.VideoTauMilli, Multimodal.VideoHamMax)
      .filter(col("is_dup_video")))
    spark.catalog.clearCache()
    val aDrop = ids(Multimodal.dedupAudioOn(
        Multimodal.audioStructured(live).persist(),
        Multimodal.AudioFpWin, Multimodal.AudioSegWin,
        Multimodal.AudioTauMilli, Multimodal.AudioHamMax)
      .filter(col("is_dup_audio")))
    spark.catalog.clearCache()
    val iDrop = ids(Multimodal.dedupImageDocsOn(
        Multimodal.pairImages(live), hamMax = 3L)
      .filter(col("is_dup_image")))
    spark.catalog.clearCache()
    assert(vDrop.nonEmpty && aDrop.nonEmpty && iDrop.nonEmpty)
    // the image rung recovers EXACTLY its planted class — the real
    // decode → dHash → banded-join chain inverts the generation
    assert(iDrop ==
      liveIds.filter(d => d % 10 == 3 && liveIds.contains(d - 1)),
      "image drops must be exactly the planted pair class")
    // and it bites on docs no other rung drops (independent non-vacuity)
    assert((iDrop -- vDrop -- aDrop).nonEmpty,
      "image rung must contribute beyond video/audio")
    val emb = Tables.table(spark, sf, "embeddings")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val mixed = Curation.corpusPipelineMultimodal(spark, sf).collect()
    spark.catalog.clearCache()
    // the composition contract, exactly: the mixed flagship IS the text
    // flagship over the media-gated population
    val mmDrop = vDrop ++ aDrop ++ iDrop
    val gated = Curation.corpusPipelineOn(
      docs.filter(col("doc_id") < 20 ||
        !col("doc_id").isInCollection(mmDrop)), emb).collect()
    spark.catalog.clearCache()
    assert(mixed.map(key).toSet == gated.map(key).toSet,
      "mixed flagship must equal the text flagship over media survivors")
    // and the gates CHANGE the manifest (the per-host cap refills doc
    // COUNTS, so the observable difference is the shard digests)
    val textOnly = Curation.corpusPipeline(spark, sf).collect()
    spark.catalog.clearCache()
    assert(mixed.map(key).toSet != textOnly.map(key).toSet,
      "the media gates must change the mixed manifest")
  }

  test("search_hybrid: both substrates contribute candidates, RRF ranks " +
      "dual-listed docs first, and the IVF-swapped variant certifies " +
      "pooled overlap vs the exact hybrid") {
    import graft.ops.{Similarity, TextAnalysis}
    val exact = Similarity.searchHybrid(spark, sf).collect()
    spark.catalog.clearCache()
    assert(exact.nonEmpty)
    // both substrates surface candidates the other does not
    assert(exact.exists(r => !r.isNullAt(2) && r.isNullAt(3)),
      "no lexical-only candidate")
    assert(exact.exists(r => r.isNullAt(2) && !r.isNullAt(3)),
      "no vector-only candidate")
    // RRF dominance: a doc on BOTH lists outranks any doc whose single
    // list rank is no better than either of its — per query
    exact.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val dual = rows.filter(r => !r.isNullAt(2) && !r.isNullAt(3))
      val single = rows.filter(r => r.isNullAt(2) ^ r.isNullAt(3))
      for (d <- dual; s <- single) {
        val sRnk = if (s.isNullAt(2)) s.getInt(3) else s.getInt(2)
        if (sRnk >= d.getInt(2) && sRnk >= d.getInt(3))
          assert(d.getInt(5) < s.getInt(5),
            "dual-listed doc must outrank a weaker single-listed one")
      }
    }
    // the scale path: IVF vector candidates, fusion unchanged — the
    // graded certificate key (search_hybrid_ivf, round 18) certifies the
    // pooled overlap at the family floor; spot-pin it here too
    val cert = Similarity.searchHybridIvfChecked(spark, sf).collect().head
    spark.catalog.clearCache()
    assert(cert.getLong(0) == TextAnalysis.SearchQueries,
      s"every hybrid query must surface candidates: $cert")
    assert(cert.getBoolean(3),
      s"hybrid IVF pooled overlap under the 0.8 floor: $cert")
  }

  test("corpus_multimodal_incremental: every media branch bites on the " +
      "batch, the corpus image branch is empty by geometry, and the " +
      "composition equals the text incremental flagship over the " +
      "media-gated populations") {
    import graft.ops.{Curation, Multimodal}
    val docs = Tables.table(spark, sf, "documents")
    val emb = Tables.table(spark, sf, "embeddings")
    val bench = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val corpus0 = live.filter(col("doc_id") % 2 === 0)
    val batch0 = live.filter(col("doc_id") % 2 === 1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // the drops, recomputed through the public ops (the maintained band
    // tables serving both the corpus verdict and the batch probe)
    val vids0 = Multimodal.videoStructured(corpus0).persist()
    // catalog-managed persists, NOT localCheckpoint: checkpoint blocks
    // are invisible to clearCache and would trip the suite's op-level
    // cache-contract sweep
    val vBands = Multimodal.videoBandState(vids0,
      Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli).persist()
    val vDropC = ids(Multimodal.dedupVideoOn(vids0,
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
        Multimodal.VideoTauMilli, Multimodal.VideoHamMax)
      .filter(col("is_dup_video")))
    vids0.unpersist(blocking = false)
    val clips0 = Multimodal.audioStructured(corpus0).persist()
    val aBands = Multimodal.audioBandState(clips0,
      Multimodal.AudioFpWin, Multimodal.AudioSegWin).persist()
    val aDropC = ids(Multimodal.dedupAudioOn(clips0,
        Multimodal.AudioFpWin, Multimodal.AudioSegWin,
        Multimodal.AudioTauMilli, Multimodal.AudioHamMax)
      .filter(col("is_dup_audio")))
    clips0.unpersist(blocking = false)
    val iBands = Multimodal.imageBandState(
      Multimodal.pairImages(corpus0)).persist()
    val iDropC = ids(Multimodal.dedupImageDocsFromBands(iBands, 3L)
      .filter(col("is_dup_image")))
    // the image pair class {10k+2, 10k+3} always straddles the parity
    // split, so the corpus side has NO image pairs — and the real chain
    // must find none (a spurious pair here is a hash-geometry defect)
    assert(iDropC.isEmpty, s"corpus image drops must be empty: $iDropC")
    val vDropB = ids(Multimodal.dedupVideoIncrementalOnState(vBands,
        Multimodal.videoStructured(batch0),
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
        Multimodal.VideoTauMilli, Multimodal.VideoHamMax)
      .filter(!col("keep")))
    val aDropB = ids(Multimodal.dedupAudioIncrementalOnState(aBands,
        Multimodal.audioStructured(batch0),
        Multimodal.AudioFpWin, Multimodal.AudioSegWin,
        Multimodal.AudioTauMilli, Multimodal.AudioHamMax)
      .filter(!col("keep")))
    val iDropB = ids(Multimodal.dedupImageDocsIncrementalOnState(iBands,
        Multimodal.pairImages(batch0), 3L)
      .filter(!col("keep")))
    // under the parity split EVERY media dup class straddles it or is
    // odd-only ({10k, 10k+1}, {20k+5, 20k+7}, {10k+2, 10k+3}), so the
    // corpus-side gates are empty BY GEOMETRY — the real chains must
    // find nothing (a spurious drop is a hash-geometry defect); the
    // corpus gates' non-vacuous grading lives in
    // corpus_pipeline_multimodal's full-population key
    assert(vDropC.isEmpty && aDropC.isEmpty,
      s"corpus video/audio drops must be empty: $vDropC $aDropC")
    assert(vDropB.nonEmpty && aDropB.nonEmpty && iDropB.nonEmpty,
      "every batch media branch must bite")
    // the batch image drops are exactly the planted straddling class
    val liveIds = ids(live)
    assert(iDropB == liveIds.filter(d =>
      d % 2 == 1 && d % 10 == 3 && liveIds.contains(d - 1)),
      "batch image drops must be exactly the planted class")
    // composition contract: the mixed incremental IS the text
    // incremental flagship over the media-gated populations
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val mixed = Curation.corpusMultimodalIncremental(spark, sf).collect()
    spark.catalog.clearCache()
    val mmDropC = vDropC ++ aDropC ++ iDropC
    val mmDropB = vDropB ++ aDropB ++ iDropB
    val gated = Curation.corpusPipelineIncrementalOn(
      corpus0.filter(!col("doc_id").isInCollection(mmDropC)),
      batch0.filter(!col("doc_id").isInCollection(mmDropB)),
      bench, emb).collect()
    spark.catalog.clearCache()
    assert(mixed.map(key).toSet == gated.map(key).toSet,
      "mixed incremental must equal the text incremental over media " +
        "survivors")
  }

  test("landed day-0: the rewired cycle keys equal their self-contained " +
      "derivations row for row (r19 verdict #1a — the landing moves " +
      "where the plants come from, never what the keys compute)") {
    import graft.ops.Curation
    val docs = Tables.table(spark, sf, "documents")
    val emb = Tables.table(spark, sf, "embeddings")
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val bench = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val corpus = live.filter(col("doc_id") % 2 === 0)
    val b1 = live.filter(col("doc_id") % 4 === 1)
    val b2 = live.filter(col("doc_id") % 4 === 3)
    val odd = live.filter(col("doc_id") % 2 === 1)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    def eq(name: String, got: Array[org.apache.spark.sql.Row],
        want: Array[org.apache.spark.sql.Row]): Unit = {
      assert(got.nonEmpty, s"$name: landed form returned nothing")
      assert(got.map(key).toSet == want.map(key).toSet,
        s"$name: landed form drifted from the self-contained derivation")
    }
    val gotG = Curation.corpusGenerationCycle(spark, sf).collect()
    spark.catalog.clearCache()
    val wantG = Curation.corpusGenerationCycleOn(corpus, b1, b2, bench,
      emb, Curation.CompactHostCap).collect()
    spark.catalog.clearCache()
    eq("corpus_generation_cycle", gotG, wantG)
    val gotC = Curation.corpusCompact(spark, sf).collect()
    spark.catalog.clearCache()
    val wantC = Curation.corpusCompactOn(corpus, odd, bench, emb,
      Curation.CompactHostCap).collect()
    spark.catalog.clearCache()
    eq("corpus_compact", gotC, wantC)
    val gotM = Curation.corpusMultimodalIncremental(spark, sf).collect()
    spark.catalog.clearCache()
    val wantM = Curation.corpusMultimodalIncrementalOn(corpus, odd,
      bench, emb).collect()
    spark.catalog.clearCache()
    eq("corpus_multimodal_incremental", gotM, wantM)
    val gotMG = Curation.corpusMultimodalGenerationCycle(spark, sf)
      .collect()
    spark.catalog.clearCache()
    val wantMG = Curation.multimodalGenerationCycleOn(corpus, b1, b2,
      bench, emb, Curation.CompactHostCap, materializeContract = false)
      .manifest.collect()
    spark.catalog.clearCache()
    eq("corpus_multimodal_generation_cycle", gotMG, wantMG)
    val gotP = Curation.corpusPipelineMultimodal(spark, sf).collect()
    spark.catalog.clearCache()
    val wantP = Curation.corpusPipelineMultimodalOn(docs, emb).collect()
    spark.catalog.clearCache()
    eq("corpus_pipeline_multimodal", gotP, wantP)
    val gotU = Curation.corpusStatesUpdate(spark, sf).collect()
    spark.catalog.clearCache()
    val wantU = Curation.corpusStatesUpdateOn(corpus, b1, b2, bench,
      emb).collect()
    spark.catalog.clearCache()
    eq("corpus_states_update", gotU, wantU)
    val gotI = Curation.corpusPipelineIncremental(spark, sf).collect()
    spark.catalog.clearCache()
    val wantI = Curation.corpusPipelineIncrementalOn(corpus, odd, bench,
      emb).collect()
    spark.catalog.clearCache()
    eq("corpus_pipeline_incremental", gotI, wantI)
    // the state generation bump: compact's fused delta write, gen-1 fold
    // and read-back must equal absorb's union read (identical by design)
    val gotSC = Curation.corpusStatesCompact(spark, sf).collect()
    spark.catalog.clearCache()
    val wantSC = Curation.corpusStatesAbsorbOnState(spark, sf).collect()
    spark.catalog.clearCache()
    eq("corpus_states_compact", gotSC, wantSC)
  }

  test("media onstate keys: landed-slice batch bands equal in-key " +
      "synthesis (r20 — the landing moves where batch hashes come " +
      "from, never what the keys compute)") {
    import graft.ops.Multimodal
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val landing = Multimodal.mediaBandLanding(spark, sf)
    val docs = Tables.table(spark, sf, "documents")
    val got = Multimodal.dedupMediaOnState(spark, sf).collect()
    spark.catalog.clearCache()
    // the pre-r20 formulation: batch plants synthesized + hashed in-key
    val batch = docs.filter(col("doc_id") % 2 === 1 &&
      col("doc_id") < Multimodal.ReplicaBound)
    def verdict(df: org.apache.spark.sql.DataFrame, modality: String) =
      df.select(lit(modality).as("modality"), col("doc_id"),
        col("is_dup_corpus"), col("is_dup_batch"), col("keep"))
    val want = verdict(Multimodal.dedupVideoIncrementalOnState(
        spark.read.parquet(s"$landing/corpus/video"),
        Multimodal.videoStructured(batch),
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
        Multimodal.VideoTauMilli, Multimodal.VideoHamMax), "video")
      .unionByName(verdict(Multimodal.dedupAudioIncrementalOnState(
        spark.read.parquet(s"$landing/corpus/audio"),
        Multimodal.audioStructured(batch),
        Multimodal.AudioFpWin, Multimodal.AudioSegWin,
        Multimodal.AudioTauMilli, Multimodal.AudioHamMax), "audio"))
      .unionByName(verdict(Multimodal.dedupImageDocsIncrementalOnState(
        spark.read.parquet(s"$landing/corpus/image"),
        Multimodal.pairImages(batch), 3L), "image"))
      .collect()
    spark.catalog.clearCache()
    assert(got.nonEmpty, "dedup_media_onstate returned nothing")
    assert(got.map(key).toSet == want.map(key).toSet,
      "dedup_media_onstate: landed batch slices drifted from in-key " +
        "synthesis")
    // the absorb key stays row-stable under the same rewire: its twin
    // is unchanged, so the oracle board re-proves it per round; here we
    // pin non-vacuously that the planted cross-batch classes still flip
    // through the absorbed delta
    val absorb = Multimodal.dedupMediaAbsorbOnState(spark, sf).collect()
    spark.catalog.clearCache()
    assert(absorb.nonEmpty, "dedup_media_absorb_onstate returned nothing")
    val flipped = absorb.filter(r => r.getInt(0) == 2 &&
      r.getBoolean(3))
    assert(flipped.nonEmpty,
      "day-2 corpus-dup verdicts vanished — the absorbed delta no " +
        "longer reaches the union read")
  }

  test("the media gate's geometry is named only in Multimodal") {
    // Curation places the media boundaries; the rungs' τ, hamming radii,
    // window geometry and the banded hamming join belong to
    // Multimodal.MediaBands and its SQL twins. A second copy in Curation
    // would drift from the checked rungs.
    // The streaming probe names its per-modality radius and τ, but its
    // hamming test (Spark and SQL twin) is Multimodal's too.
    val banned = Map(
      "ops/Curation.scala" -> Seq("TauMilli", "HamMax", "CutFrameBytes",
        "CutThresholdMilli", "AudioFpWin", "AudioSegWin", "bit_count("),
      "streaming/Streams.scala" -> Seq("bit_count("))
    val hits = for {
      (file, tokens) <- banned.toSeq
      (line, n) <- mainSourceLines(file)
      b <- tokens if line.contains(b)
    } yield s"$file:${n + 1} contains '$b'"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** `src/main/scala/graft/<file>`'s lines with their 0-based numbers. */
  private def mainSourceLines(file: String): Seq[(String, Int)] = {
    val f = new java.io.File(s"src/main/scala/graft/$file")
    assert(f.isFile, s"run from the project root (no $f)")
    java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq
      .map(_.toString).zipWithIndex
  }

  test("the composed text day loop spells its corpus split and its " +
      "generation bump once") {
    // Every composed key and its self-contained form take the split from
    // Curation.Split and the per-host re-cap from compactStep; a second
    // spelling is a day-loop step copied by hand, free to drift.
    val once = Seq("&& col(\"text\").isNotNull",
      "capPerHostOn(Web.urlStructured(")
    val lines = mainSourceLines("ops/Curation.scala")
    once.foreach { token =>
      val at = lines.collect { case (l, n) if l.contains(token) => n + 1 }
      assert(at.size == 1,
        s"ops/Curation.scala spells '$token' at lines ${at.mkString(", ")}" +
          " (expected exactly once)")
    }
  }

  test("corpus_pipeline_learned_bpe: manifest equals the flagship except " +
      "the learned token pricing; seq arithmetic consistent") {
    import graft.ops.Curation
    val frozen = Curation.corpusPipeline(spark, sf).collect()
    spark.catalog.clearCache()
    val learned = Curation.corpusPipelineLearnedBpe(spark, sf).collect()
    spark.catalog.clearCache()
    // same shards, docs, positions, ws tokens and order digests — the
    // tokenizer only prices n_bpe_tokens/n_seqs
    def geo(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(7))
    assert(learned.map(geo).toSet == frozen.map(geo).toSet)
    // the learned table actually prices: totals positive, and the fitted
    // merges produce a different total than the frozen vocab walk
    val lt = learned.map(_.getLong(5)).sum
    assert(lt > 0)
    assert(lt != frozen.map(_.getLong(5)).sum,
      "learned pricing must differ from the frozen table's")
    learned.foreach { r =>
      assert(r.getLong(6) == (r.getLong(5) + 1023) / 1024)
    }
  }

  test("composed pipeline runs identically under reliable checkpointing") {
    import spark.implicits._
    import graft.ops.Curation
    // one key governs every boundary: the composed pipeline's eager
    // stages, clusterLabels' lazy loop rounds (on a chain that runs the
    // plain rounds AND the jump, plus a separate pair) and the BPE rounds
    val pairs = ((0L until 20L).map(i => (i, i + 1)) :+ (40L, 41L))
      .toDF("doc_a", "doc_b")
    def rows(): Seq[Set[List[Any]]] = {
      val out = Seq(Curation.corpusPipeline(spark, sf),
          Dedup.clusterLabels(pairs), TextAnalysis.bpeTrain(spark, sf))
        .map(_.collect().map(_.toSeq.toList).toSet)
      spark.catalog.clearCache()
      out
    }
    val local = rows()
    assert(local.forall(_.nonEmpty))
    // under the build's target/ (swept by clean), not the system tmpdir:
    // the dir must outlive the test (SparkContext has no unsetCheckpointDir
    // — see the finally below), and an aborted JVM skips shutdown hooks,
    // so a system-tmp location would accumulate across crashed suite runs
    // (ADVICE r17)
    val ckRoot = java.nio.file.Paths.get("target", "tmp")
    java.nio.file.Files.createDirectories(ckRoot)
    val ckDir =
      java.nio.file.Files.createTempDirectory(ckRoot, "graft_reliable_cp")
    // a mistyped conf value fails loudly, naming the key (ADVICE r16)
    spark.conf.set(Boundaries.ReliableChkConf, "yes")
    val bad = try intercept[IllegalArgumentException] {
      Curation.corpusPipeline(spark, sf)
    } finally spark.conf.unset(Boundaries.ReliableChkConf)
    assert(bad.getMessage.contains(Boundaries.ReliableChkConf))
    spark.conf.set(Boundaries.ReliableChkConf, "true")
    try {
      // misconfiguration fails loudly BEFORE any work, never a silent
      // fallback to executor-local blocks
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        intercept[IllegalArgumentException] {
          Curation.corpusPipeline(spark, sf)
        }
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      assert(rows() == local)
      // the boundaries really checkpointed durably
      assert(ckDir.toFile.listFiles != null &&
        ckDir.toFile.listFiles.nonEmpty)
    } finally {
      spark.conf.unset(Boundaries.ReliableChkConf)
      // do NOT delete ckDir here: SparkContext has no unsetCheckpointDir,
      // so the shared session keeps pointing at it for the rest of the
      // suite — deleting a still-registered checkpoint location would
      // make any later checkpointing test fail confusingly (ADVICE r16).
      // A shutdown hook sweeps it once the JVM — and with it the
      // session — is gone.
      sys.addShutdownHook(graft.LocalFs.deleteRecursively(ckDir.toFile))
    }
  }

  test("quality_train_lm: stopword buckets learn positive weights, the " +
      "trained artifact serves identically through both shapes, and the " +
      "learned direction separates the classes") {
    import graft.ops.TextAnalysis
    val trained = TextAnalysis.qualityTrainLm(spark, sf).collect()
    assert(trained.length == TextAnalysis.QualityLmBuckets)
    assert(trained.map(_.getLong(0)).toSeq ==
      (0L until TextAnalysis.QualityLmBuckets).toSeq)
    // the learned structure matches the frozen vector's: the buckets the
    // frozen scorer marks as stopword features (+1000) learn positive
    // log-count-ratios from the en-vs-other split — as a POPULATION
    // (hashing collisions pollute individual buckets by design: a stop
    // bucket shared with a frequent non-en token — or a stopword like
    // 'a' that is also es/fr vocabulary — can dip negative; the model's
    // signal is the separation, not any single bucket)
    val stopBuckets = TextAnalysis.QualityLmWeights.zipWithIndex
      .filter(_._1 == 1000L).map(_._2.toLong).toSet
    // (empty buckets carry the class-size smoothing prior, and OCCUPIED
    // non-stop buckets split by their words' language — en content words
    // learn positive weights too — so per-population mean comparisons
    // measure corpus composition, not the model; the decisive functional
    // pin is the classifier-accuracy assertion below)
    val stopW = trained.filter(r => stopBuckets.contains(r.getLong(0)))
    assert(stopW.count(_.getLong(3) > 0L) * 3 >= stopW.length * 2,
      s"only ${stopW.count(_.getLong(3) > 0L)}/${stopW.length} stop " +
        "buckets learned positive weights")
    // train→serve handoff: the trained table through the broadcast-join
    // server equals the same weights through the plan-literal fold server
    val docs = Tables.table(spark, sf, "documents")
    val weightsSeq = trained.sortBy(_.getLong(0)).map(_.getLong(3)).toSeq
    val viaTable = TextAnalysis.qualityScoreLmWeighted(docs,
        TextAnalysis.qualityTrainLm(spark, sf)
          .select(col("bucket"), col("weight_milli")),
        TextAnalysis.QualityLmBuckets)
      .orderBy(col("doc_id")).collect()
    val viaLiteral = docs.filter(col("text").isNotNull)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("w_sum_milli",
        TextAnalysis.qualityLmSumMilliWith(col("tokens"), weightsSeq))
      .select(col("doc_id"), col("w_sum_milli"))
      .orderBy(col("doc_id")).collect()
    assert(viaTable.length == viaLiteral.length)
    viaTable.zip(viaLiteral).foreach { case (t, l) =>
      assert(t.getLong(0) == l.getLong(0))
      assert(t.getLong(2) == l.getLong(1),
        s"doc ${t.getLong(0)}: table sum ${t.getLong(2)} != " +
          s"literal sum ${l.getLong(1)}")
    }
    // the learned DIRECTION separates the classes: en docs' served milli
    // sums sit measurably above every other class's (the synthetic corpus
    // shares most content vocabulary across langs, so a usable absolute
    // threshold is a CALIBRATION step — the CCNet percentile-bucket move
    // sample_quality_buckets implements — not part of the fit contract)
    val lang = docs.select(col("doc_id"), (col("lang") === "en").as("en"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val (enRows, otherRows) = viaTable.partition(r => lang(r.getLong(0)))
    val meanEn = enRows.map(_.getLong(2)).sum.toDouble / enRows.length
    val meanOther = otherRows.map(_.getLong(2)).sum.toDouble /
      otherRows.length
    assert(meanEn > meanOther + 100,
      s"no class separation: en mean $meanEn vs other mean $meanOther")
  }

  test("bpe_pipeline: the learned encode is lossless and the merges bite") {
    import graft.ops.TextAnalysis
    val got = TextAnalysis.bpePipeline(spark, sf).collect()
    spark.catalog.clearCache()
    assert(got.nonEmpty)
    // losslessness: merges only concatenate adjacent characters WITHIN a
    // piece, so stripping the token separators reproduces exactly the
    // document's lowercased pre-tokenizer pieces concatenated
    val docs = Tables.table(spark, sf, "documents")
    val want = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat_ws("", TextAnalysis.preTokenPieces(lower(col("text"))))
          .as("glue"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { r =>
      assert(r.getString(3).replace(" ", "") == want(r.getLong(0)),
        s"doc ${r.getLong(0)} not lossless")
      // n_pieces <= n_tokens <= character count of the glued pieces
      assert(r.getLong(1) <= r.getLong(2))
      assert(r.getLong(2) <= want(r.getLong(0)).length)
    }
    // the learned merges BITE: across the corpus the encode is strictly
    // shorter than character-level (some symbols are multi-char)
    val totalTokens = got.map(_.getLong(2)).sum
    val totalChars = got.map(r => want(r.getLong(0)).length.toLong).sum
    assert(totalTokens < totalChars,
      s"no merge applied: $totalTokens tokens vs $totalChars chars")
  }

  test("quality_pipeline: exact terciles, score-monotone buckets, " +
      "family sampling rates") {
    import graft.ops.TextAnalysis
    val got = TextAnalysis.qualityPipeline(spark, sf).collect()
    spark.catalog.clearCache()
    val n = got.length
    assert(n > 0)
    // rank is a dense permutation of 0..N-1
    assert(got.map(_.getLong(2)).sorted.toSeq == (0L until n).toSeq)
    // exact terciles by rank
    val byB = got.groupBy(_.getString(3))
    assert(byB.keySet == Set("head", "middle", "tail"))
    assert(byB("head").length == (n + 2) / 3)
    assert(byB("head").length + byB("middle").length == (2 * n + 2) / 3)
    // calibration is score-monotone (weak at tie boundaries)
    assert(byB("head").map(_.getLong(1)).min >=
      byB("middle").map(_.getLong(1)).max)
    assert(byB("middle").map(_.getLong(1)).min >=
      byB("tail").map(_.getLong(1)).max)
    // the family rates: head keeps everything, tail is decimated
    assert(byB("head").forall(_.getBoolean(4)))
    val tailKept = byB("tail").count(_.getBoolean(4))
    assert(tailKept > 0 && tailKept < byB("tail").length / 2)
  }

  test("sample_quality_buckets: frozen thresholds decide the bucket, " +
      "the salted draw keeps at the bucket rates") {
    import graft.ops.TextAnalysis
    val got = TextAnalysis.sampleQualityBuckets(spark, sf).collect()
    // bucket law: pure function of the integer score
    got.foreach { r =>
      val w = r.getLong(1)
      val want = if (w >= TextAnalysis.QBucketHeadMin) "head"
        else if (w >= TextAnalysis.QBucketMidMin) "middle" else "tail"
      assert(r.getString(2) == want, s"doc ${r.getLong(0)}")
    }
    // the frozen cuts are non-vacuous: all three buckets populated
    assert(got.map(_.getString(2)).distinct.sorted.toSeq ==
      Seq("head", "middle", "tail"))
    val byB = got.groupBy(_.getString(2))
    // head keeps everything (rate 100)
    assert(byB("head").forall(_.getBoolean(3)))
    // tail is decimated: some survive, far fewer than half
    val tail = byB("tail")
    val tailKept = tail.count(_.getBoolean(3))
    assert(tailKept > 0 && tailKept < tail.length / 2,
      s"tail kept $tailKept/${tail.length}")
    // middle keeps roughly half (uniform 60-bit hash mod 100 < 50)
    val mid = byB("middle")
    val midKept = mid.count(_.getBoolean(3))
    assert(midKept > mid.length / 4 && midKept < mid.length * 3 / 4,
      s"middle kept $midKept/${mid.length}")
  }

  test("bpe_train equals the sequential-greedy reference trainer") {
    import graft.ops.TextAnalysis
    // the obviously-correct reference: explicit per-round count + argmax
    // + SEQUENTIAL left-to-right greedy application (the closed-form
    // parity rule in the operator must reproduce it exactly)
    def trainRef(pieces0: Seq[(String, Long)],
        rounds: Int): Seq[(Int, String, String, Long)] = {
      var seqs = pieces0.map { case (p, w) =>
        (p.map(_.toString).toVector, w) }
      (1 to rounds).flatMap { rd =>
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        seqs.foreach { case (cs, w) =>
          (0 until cs.length - 1).foreach { i =>
            val k = (cs(i), cs(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + w
          }
        }
        if (counts.isEmpty) Nil
        else {
          val ((l, r), c) = counts.toSeq
            .minBy { case ((a, b), n) => (-n, a, b) }
          seqs = seqs.map { case (cs, w) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < cs.length) {
              if (i + 1 < cs.length && cs(i) == l && cs(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += cs(i); i += 1 }
            }
            (out.result(), w)
          }
          Seq((rd, l, r, c))
        }
      }
    }
    // corpus equality over the full graded rounds
    val pieces = Tables.table(spark, sf, "documents")
      .select("text").collect().flatMap(r => Option(r.getString(0)))
      .flatMap { t =>
        val m = java.util.regex.Pattern
          .compile("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+")
          .matcher(t.toLowerCase)
        val buf = scala.collection.mutable.ListBuffer.empty[String]
        while (m.find()) buf += m.group()
        buf
      }
      .filter(_.length >= 2)
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
      .toSeq
    val want = trainRef(pieces, TextAnalysis.BpeTrainRounds)
    val got = TextAnalysis.bpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    assert(got.size == TextAnalysis.BpeTrainRounds)
    // SAME-SYMBOL merge: the chained-run case the parity rule exists
    // for — "aaaa" must merge to (aa)(aa), "aaa" to (aa)a, counted and
    // applied exactly as the sequential greedy does
    import spark.implicits._
    val runs = Seq((1L, "aaaa aaaa aaa bb")).toDF("doc_id", "text")
    val handPieces = Seq("aaaa" -> 2L, "aaa" -> 1L, "bb" -> 1L)
    val handWant = trainRef(handPieces, 3)
    val handGot = TextAnalysis.bpeTrainOn(runs, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(handGot == handWant)
    // and the first round is the (a, a) run merge with the exact
    // weighted count 2*3 + 1*2 = 8
    assert(handGot.head == ((1, "a", "a", 8L)))
  }

  test("tokenize_bpe: frozen-table invariants hold and hand cases encode" +
      " exactly") {
    import spark.implicits._
    import graft.functions.BpeTokenizer.{BaseSymbols, Merges, Vocab}
    // BPE training invariant: every rule's operands are base symbols or
    // outputs of STRICTLY earlier rules (this is what makes sequential
    // rank-order application equal the lowest-rank-present algorithm)
    Merges.zipWithIndex.foreach { case ((a, b), r) =>
      val earlier = BaseSymbols.toSet ++
        Merges.take(r).map { case (x, y) => x + y }
      assert(earlier.contains(a), s"rule $r left '$a' not yet created")
      assert(earlier.contains(b), s"rule $r right '$b' not yet created")
      // the oracle's simultaneous-replacement formulation requires it
      assert(a != b, s"rule $r has equal operands")
    }
    // unique ids: outputs pairwise distinct and disjoint from the base
    assert(Vocab.distinct.length == Vocab.length)
    // hand-checked encodings (ids are vocab indices)
    val idOf = Vocab.zipWithIndex.toMap
    val out = graft.ops.TextAnalysis.tokenizeBpe(
      Seq((1L, "The TABLE value"), (2L, "köln!"), (3L, ""))
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((3L, 3L, 0L,
      Seq("the", "table", "value").map(idOf).mkString(" "))))
    // 'ö' and '!' fall outside the base alphabet → <unk> (id 0)
    assert(out(2L) == ((2L, 5L, 2L,
      Seq(idOf("k"), 0, idOf("l"), idOf("n"), 0).mkString(" "))))
    // empty text: zero pieces, empty id string
    assert(out(3L) == ((0L, 0L, 0L, "")))
  }

  test("mm_phash: jpeg re-encode twins hash within hamming 3 of their png") {
    import spark.implicits._
    val assets = Multimodal.noiseAssets(spark, sf)
    val png = Multimodal.dHashImages(
      assets.filter(col("role") === "corpus"),
      "img_id", "payload")
      .select(col("img_id"), col("dhash").as("dh_png"))
    val jpg = Multimodal.dHashImages(
      assets.filter(col("role") === "twin_jpeg"),
      "img_id", "payload")
      .select(col("img_id"), col("dhash").as("dh_jpg"))
    val twins = png.join(jpg, "img_id")
      .select(col("img_id"),
        bit_count(col("dh_png").bitwiseXOR(col("dh_jpg"))).as("hamming"))
      .as[(Long, Int)].collect()
    assert(twins.nonEmpty, "fixture must plant jpeg twins")
    twins.foreach { case (id, hm) =>
      assert(hm <= 3, s"jpeg twin of doc $id drifted to hamming $hm")
    }
    // the margin rule is expected to absorb JPEG noise COMPLETELY on this
    // fixture (cells ≥ 4px, 130-unit level spacing vs the 45 margin): a
    // nonzero hamming means the codec noise budget assumption eroded
    assert(twins.forall(_._2 == 0))
    // distinct documents must sit STRICTLY outside the pair threshold —
    // the sharpness that makes dedup_image's oracle exact
    val hs = png.select(col("img_id"), col("dh_png")).as[(Long, Long)]
      .collect()
    for (Seq((a, ha), (b, hb)) <- hs.toSeq.combinations(2)) {
      val hm = java.lang.Long.bitCount(ha ^ hb)
      assert(hm > 3, s"docs $a/$b collide at hamming $hm")
    }
  }

  test("dedup_image_incremental: planted flags hold and keep-mins are PNGs") {
    import spark.implicits._
    val got = Multimodal.dedupImageIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toSeq
    assert(got.nonEmpty)
    got.foreach { case (d, role, flags) =>
      role match {
        case "twin_jpeg" =>
          assert(d % 10 == 0 && flags == ((true, false, false)), s"$d $flags")
        case "batch_new" =>
          assert(d % 10 == 5 &&
            flags == ((false, d % 20 == 15, true)), s"$d $flags")
        case "batch_new_jpeg" =>
          assert(d % 20 == 15 && flags == ((false, true, false)), s"$d $flags")
      }
    }
    // the batch roles are exhaustive for the planted split
    assert(got.map(_._2).toSet ==
      Set("twin_jpeg", "batch_new", "batch_new_jpeg"))
  }

  test("minhash and exact n-gram dedup agree on the planted near-dup pairs") {
    import spark.implicits._
    val near = Dedup.dedupNear(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val ngram = Dedup.dedupNgram(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(ngram.nonEmpty, "corpus should contain planted near-dups")
    // set EQUALITY, not subset: a MinHash precision collapse (near ⊋ ngram)
    // or an ngram recall collapse (ngram ⊊ near) must both fail. The
    // corpus plants pairs at J≈0.99 with everything else <0.1, and both
    // paths are seed-deterministic, so equality is stable.
    assert(ngram == near)
  }

  test("ngram two-minima blocking bounds hot blocks from a shared shingle") {
    import spark.implicits._
    // every doc opens with the same boilerplate shingle (header,of,legal):
    // under single-min blocking these can all collapse into one quadratic
    // block; two-minima blocking keeps unrelated docs apart because their
    // second minimum is the doc-unique shingle
    val boiler = (0 until 200).map(i =>
      (i.toLong, Seq("header", "of", "legal", s"uniq$i")))
    // planted near-dup pair: 9-token doc and the same doc plus one token
    val base = Seq("p0", "p1", "p2", "p3", "p4", "p5", "p6", "p7")
    val planted = Seq((1000L, base), (1001L, base :+ "extra"))
    val corpus = (boiler ++ planted).toDF("doc_id", "tokens")
    val sh = Dedup.shingleSets(corpus)
    // no band may contain a hot block: every band key needs BOTH minima
    val maxBlock = Dedup.bandKeys(sh)
      .groupBy("band", "m1", "m2").count()
      .agg(max("count")).first().getLong(0)
    assert(maxBlock <= 2, s"hot block of size $maxBlock")
    val pairs = Dedup.ngramPairs(sh)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1000L, 1001L)))
  }

  test("cluster labels compute the transitive closure, not just pairs") {
    import spark.implicits._
    // chain a-b-c plus an isolated pair and a self-contained triangle:
    // every member of a component must get the component MIN, including
    // endpoints never directly paired (a,c) — that's the closure property
    // the iterative propagation exists for
    val pairs = Seq(
      (1L, 2L), (2L, 3L),           // chain: 1-2-3
      (10L, 11L),                   // pair
      (20L, 21L), (21L, 22L), (20L, 22L)) // triangle
      .toDF("doc_a", "doc_b")
    val labels = Dedup.clusterLabels(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // corpus-level: dedup_cluster agrees with dedup_ngram's pair graph —
    // paired docs share labels, and a doc pairs with its label's component
    val clusters = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val corpusPairs = Dedup.dedupNgram(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(corpusPairs.nonEmpty)
    corpusPairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // docs in no pair are singletons labeled by themselves
    val paired = corpusPairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.foreach { case (d, c) =>
      if (!paired.contains(d)) assert(c == d, s"singleton $d got label $c")
    }
  }

  test("cluster labels converge on a long chain (path doubling)") {
    import spark.implicits._
    // a 120-hop path: plain min-propagation moves the minimum one hop per
    // iteration and would blow the 50-iteration loud cap; the pointer-jump
    // step halves the remaining distance each round, so this must converge
    // in ~O(log 120) rounds with every node labeled by the chain head
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.clusterLabels(chain).as[(Long, Long)].collect()
    assert(labels.length == 121)
    assert(labels.forall(_._2 == 0L), "chain must collapse to the head label")
  }

  test("cluster labels run identically under reliable checkpointing") {
    import spark.implicits._
    // the cluster-deployment escape hatch: same loop, reliable checkpoint
    // per round instead of executor-local blocks — must produce identical
    // labels (here on a shape that exercises plain rounds AND the jump)
    val pairs = ((0L until 20L).map(i => (i, i + 1)) :+ (40L, 41L))
      .toDF("doc_a", "doc_b")
    val baseline = Dedup.clusterLabels(pairs).as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    // a mistyped mode fails loudly, naming the key — never a silent
    // fallback to executor-local blocks
    spark.conf.set(Boundaries.ReliableChkConf, "Reliable")
    val bad = try intercept[IllegalArgumentException] {
      Dedup.clusterLabels(pairs)
    } finally spark.conf.unset(Boundaries.ReliableChkConf)
    assert(bad.getMessage.contains(Boundaries.ReliableChkConf))
    spark.conf.set(Boundaries.ReliableChkConf, "true")
    try {
      // misconfiguration fails loudly BEFORE any work (checked while no
      // checkpoint dir is set on the shared context)
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        intercept[IllegalArgumentException] { Dedup.clusterLabels(pairs) }
        // under target/ and swept at JVM exit, never deleted here: the
        // context has no unsetCheckpointDir, so later tests still use it
        val ckRoot = java.nio.file.Paths.get("target", "tmp")
        java.nio.file.Files.createDirectories(ckRoot)
        val ckDir =
          java.nio.file.Files.createTempDirectory(ckRoot, "graft_reliable_ck")
        spark.sparkContext.setCheckpointDir(ckDir.toString)
        sys.addShutdownHook(graft.LocalFs.deleteRecursively(ckDir.toFile))
      }
      val ckDir = new java.io.File(new org.apache.hadoop.fs.Path(
        spark.sparkContext.getCheckpointDir.get).toUri.getPath)
      def rddDirs(): Int =
        Option(ckDir.listFiles).map(_.count(_.getName.startsWith("rdd-")))
          .getOrElse(0)
      val before = rddDirs()
      val reliable = Dedup.clusterLabels(pairs)
        .as[(Long, Long)].collect().toMap
      assert(reliable == baseline)
      // the loop really checkpointed reliably: new rdd files in the dir
      assert(rddDirs() > before)
    } finally spark.conf.unset(Boundaries.ReliableChkConf)
  }

  test("dedup_incremental keeps exactly the clean incoming representatives") {
    import spark.implicits._
    // independent reconstruction from the suite-pinned cluster assignment:
    // survivors == odd docs whose component has no even member, minimum
    // odd id per component
    val clusters = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2)
    val expected = clusters.filter(_._1 % 2 == 1).filter { case (d, c) =>
      val members = byCluster(c).map(_._1)
      members.forall(_ % 2 == 1) && d == members.filter(_ % 2 == 1).min
    }.map(_._1).toSet
    val got = Dedup.dedupIncremental(spark, sf)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(got == expected)
    // non-vacuous on this corpus: some incoming doc must actually be
    // dropped for near-dupping the existing side (planted pairs straddle
    // the parity split), and plenty must survive
    val incoming = clusters.count(_._1 % 2 == 1)
    assert(got.size < incoming, "no incoming doc was dropped — vacuous")
    assert(got.nonEmpty)
  }

  test("dedupIncremental with prior labels equals the recompute form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col}
    // yesterday's state: close the EXISTING (even) half against itself
    // only — exactly what a daily pipeline has on disk
    val pairs = Dedup.dedupNgram(spark, sf).select(col("doc_a"), col("doc_b"))
    val existingPairs = pairs
      .filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
    val lbl = Dedup.clusterLabels(existingPairs)
    val prior = Tables.table(spark, sf, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 2 === 0)
      .join(lbl.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    val got = Dedup.dedupIncremental(spark, sf, prior)
      .as[(Long, Long)].collect().toSeq
    val want = Dedup.dedupIncremental(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
    // the economy is real: the overload's closure graph holds only edges
    // touching the batch — on this corpus strictly fewer than the combined
    // recompute walks (the existing-existing planted dups)
    assert(existingPairs.count() > 0, "no existing-existing edges — vacuous")
  }

  test("embed incremental: quant prescan reproduces the exact report") {
    import org.apache.spark.sql.functions.col
    val isNew = col("vec_id") % 2 === 1
    val exact = Dedup.dedupEmbedIncrementalExact(spark, sf, isNew, 0.42)
      .collect().toSeq
    val quant = Dedup.dedupEmbedIncremental(spark, sf, isNew, 0.42, 8)
      .collect().toSeq
    // full row-for-row equality: maxima, not just decisions — the int8
    // prescan's top-8 pool must contain each side's true top-1
    assert(exact == quant)
    // non-vacuous: all three branches of the keep rule fire on the corpus
    val dc = exact.count(_.getAs[Boolean]("is_dup_corpus"))
    val db = exact.count(_.getAs[Boolean]("is_dup_batch"))
    val kp = exact.count(_.getAs[Boolean]("keep"))
    assert(dc > 0 && db > 0 && kp > 0,
      s"degenerate corpus for tau=0.42: dc=$dc db=$db keep=$kp")
  }

  test("embed incremental checked key: counts reconcile and quant_ok holds") {
    val row = Dedup.dedupEmbedIncrementalChecked(spark, sf).collect()(0)
    val n = row.getAs[Long]("n_new")
    assert(n == row.getAs[Long]("n_dup_corpus") +
      row.getAs[Long]("n_dup_batch") + row.getAs[Long]("n_keep"))
    assert(row.getAs[Boolean]("quant_ok"))
  }

  test("embed incremental IVF composition agrees with exact at the floor") {
    import org.apache.spark.sql.functions.col
    val isNew = col("vec_id") % 2 === 1
    val exact = Dedup.dedupEmbedIncrementalExact(spark, sf, isNew, 0.42)
      .select("q_id", "is_dup_corpus", "is_dup_batch", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    val ivf = Dedup.dedupEmbedIncrementalIvf(spark, sf, isNew, 0.42,
        rerank = 8)
      .select("q_id", "is_dup_corpus", "is_dup_batch", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    // the certificate's published floor (0.95), asserted over FULL flag
    // triples (stricter than the graded key's keep-only agreement).
    // NOT identity: IVF legitimately misses a near-tau pair whose true
    // max sits in an unprobed cluster — measured full-flag agreement at
    // nProbe=24 is 1.00 on this corpus, 0.995 at sf0.1, 0.997 on the 10×
    // replica (AnnScaleMain), so a regenerated corpus can land a few
    // disagreements without the operator being wrong.
    assert(ivf.keySet == exact.keySet)
    val agree = exact.keys.count(k => exact(k) == ivf(k))
    assert(agree >= exact.size * 0.95,
      s"IVF flag agreement $agree/${exact.size} below the 0.95 floor")
  }

  test("embed IVF checked key: counts reconcile and ivf_ok holds") {
    val row = Dedup.dedupEmbedIvfChecked(spark, sf).collect()(0)
    val n = row.getAs[Long]("n_new")
    assert(n == row.getAs[Long]("n_dup_corpus") +
      row.getAs[Long]("n_dup_batch") + row.getAs[Long]("n_keep"))
    assert(row.getAs[Boolean]("ivf_ok"))
  }

  test("embed incremental keep rule on a planted frame, incl. one-hop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = 0.02f
    // even = existing corpus, odd = incoming batch (arrival = id order)
    val fx = Seq(
      0L -> Array(1f, 0f, 0f, 0f), // corpus anchor
      1L -> Array(0f, 1f, 0f, 0f), // new, matches nothing -> keep
      3L -> Array(0f, 1f, e, 0f), // near v1 (earlier new) -> batch dup
      5L -> Array(1f, e, 0f, 0f), // near corpus v0 -> corpus dup
      7L -> Array(1f, 2 * e, 0f, 0f), // near v0 AND v5: corpus wins
      9L -> Array(0f, 0f, 0f, 1f), // new, isolated -> keep
      11L -> Array(0f, 0f, 0f, 0f) // zero vector: excluded at prep
    ).toDF("vec_id", "embedding")
    val got = Dedup.dedupEmbedIncremental(fx, col("vec_id") % 2 === 1,
        tau = 0.9, rerank = 4)
      .select("q_id", "is_dup_corpus", "is_dup_batch", "keep")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, false, false, true),
      (3L, false, true, false),
      (5L, true, false, false),
      (7L, true, false, false), // not batch-dup: corpus flag takes priority
      (9L, false, false, true)))
    // one-hop is NOT transitive: drop v1 from the batch and v3's match
    // disappears even though a transitive closure through kept docs would
    // be unchanged — pins the documented streaming-index semantics
    val without1 = Dedup.dedupEmbedIncremental(
        fx.filter(col("vec_id") =!= 1L), col("vec_id") % 2 === 1,
        tau = 0.9, rerank = 4)
      .select("q_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(without1(3L))
  }

  test("corpus_clean output is deduped, threshold-clean, and near-dup-free") {
    import spark.implicits._
    import graft.ops.Curation
    val clean = Curation.corpusClean(spark, sf)
      .as[(Long, String, Double)].collect()
    assert(clean.nonEmpty)
    // every survivor passes both gates
    clean.foreach { case (id, lang, q) =>
      assert(lang == "en", s"doc $id kept with lang $lang")
      assert(q >= 0.3, s"doc $id kept with quality $q")
    }
    // no kept pair may be a near-duplicate: for every corpus near-dup pair
    // at most one side survives (the smaller id, when both passed the
    // gates) — the cluster-representative stage's whole contract
    val kept = clean.map(_._1).toSet
    val pairs = Dedup.dedupNgram(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(!(kept.contains(a) && kept.contains(b)),
        s"near-dup pair ($a,$b) both kept")
    }
  }

  test("caller cache contract: clearCache releases every op-level persist") {
    // LSH/banded operators persist intermediates their returned plan reads,
    // so they cannot unpersist eagerly; the engine contract is that the
    // CALLER releases caches once the output is consumed (Bench/Verify do
    // this between queries). This locks the mechanism end-to-end.
    spark.catalog.clearCache()
    Dedup.dedupNear(spark, sf).queryExecution.toRdd.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "dedupNear is expected to persist its hashed frame")
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clearCache must release all op-level persists")
  }

  test("native simhash fingerprint equals the exploded 64-vote aggregation") {
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    // the in-row native pass must be bit-equal to the exploded
    // md5/conv/64-conditional-sum formulation it replaced (kept here as
    // the executable spec), token for token, including NULL-hash voting
    val docs = Tables.table(spark, sf, "documents")
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 3)
    val native = docs.select(col("doc_id"),
      graft.functions.StringMath.simhashFingerprint(col("tokens")).as("fp"))
    val votes = (0 until 64).map { i =>
      sum(when(expr(s"(shiftright(h, $i) & 1) = 1"), 1L).otherwise(-1L))
        .as(s"v$i")
    }
    val fpFromVotes = (0 until 64).map { i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    val composed = docs
      .select(col("doc_id"), explode(col("tokens")).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fpFromVotes.as("fp2"))
    val joined = native.join(composed, "doc_id")
    assert(joined.count() == docs.count())
    assert(joined.filter(!(col("fp") <=> col("fp2"))).count() == 0)
  }

  test("simhash separates near-dups from random pairs by hamming distance") {
    import spark.implicits._
    val fp = Dedup.dedupSimhash(spark, sf)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val pairs = Dedup.dedupNgram(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val planted = pairs.map { case (a, b) => ham(fp(a), fp(b)) }
    val ids = fp.keys.toArray.sorted
    val random = ids.take(50).zip(ids.reverse.take(50))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => ham(fp(a), fp(b)) }
    // distributions must be well separated (near-dups cluster near 0,
    // random pairs near 32); individual outliers are expected
    val plantedMean = planted.sum.toDouble / planted.length
    val randomMean = random.sum.toDouble / random.length
    assert(planted.nonEmpty)
    assert(plantedMean < 6, s"planted mean too high: $plantedMean")
    assert(randomMean > 12, s"random mean too low: $randomMean")
  }

  test("simhash banded pairs equal brute-force hamming<=3 pairs (pigeonhole)") {
    import spark.implicits._
    val banded = Dedup.dedupSimhashPairs(spark, sf)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(banded.nonEmpty, "planted near-dups should fall within hamming 3")
    // the 4-band join is EXACT for hamming <= 3: any pair within distance 3
    // leaves at least one of the 4 16-bit bands untouched, so banding loses
    // nothing vs the quadratic scan (verified here against brute force)
    val fp = Dedup.dedupSimhash(spark, sf)
      .select("doc_id", "simhash").as[(Long, Long)].collect()
    val brute = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded.toSet == brute)
  }

  test("exact sim_search returns k neighbors per probe, descending, self-free") {
    val df = Similarity.simSearch(spark, sf)
    val rows = df.collect()
    assert(rows.length == 5 * 10)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("native dot_product is bit-identical to the HOF fold formulation") {
    import graft.functions.VectorMath
    val v = Tables.table(spark, sf, "embeddings")
      .withColumn("demb", transform(col("embedding"),
        x => x.cast(org.apache.spark.sql.types.DoubleType)))
    val both = v.select(
      VectorMath.dot(col("demb"), col("demb")).as("native"),
      aggregate(zip_with(col("demb"), col("demb"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    // null-safe inequality: with `=!=` a regression making `native` NULL
    // on every row would drop every row from the filter and pass
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("native dot_product_int8 is bit-identical to the HOF integer fold") {
    import org.apache.spark.sql.types.{ByteType, LongType}
    import graft.functions.VectorMath
    // synthetic int8 vectors covering the full [-127, 127] range
    val df = spark.range(200).select(
      transform(sequence(lit(0), lit(63)),
        i => ((i * 37 + col("id")) % 255 - 127).cast(ByteType)).as("a"),
      transform(sequence(lit(0), lit(63)),
        i => ((i * 53 + col("id") * 7) % 255 - 127).cast(ByteType)).as("b"))
    val both = df.select(
      VectorMath.dotInt8(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast(LongType) * y.cast(LongType)),
        lit(0L), (acc, x) => acc + x).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
    // null-element and length-mismatch poisoning, as in dot_product
    val edge = df.limit(1).select(
      VectorMath.dotInt8(col("a"), slice(col("b"), 1, 10)).as("short"),
      VectorMath.dotInt8(col("a"),
        concat(slice(col("b"), 1, 63), array(lit(null).cast(ByteType))))
        .as("poisoned"))
    assert(edge.filter(col("short").isNull && col("poisoned").isNull)
      .count() == 1)
  }

  test("quantized scan + exact rerank matches the exact path's sims") {
    import spark.implicits._
    val exact = Similarity.simSearch(spark, sf)
      .select("q_id", "c_id", "sim").as[(Long, Long, Double)].collect()
    val quant = Similarity.simSearchQuantized(spark, sf)
      .select("q_id", "c_id", "sim").as[(Long, Long, Double)].collect()
    assert(quant.length == exact.length)
    // stage 2 re-scores with the exact kernel, so every pair the pool
    // recalled must carry the IDENTICAL rounded similarity
    val exactSims = exact.map(r => (r._1, r._2) -> r._3).toMap
    quant.foreach { case (q, c, s) =>
      exactSims.get((q, c)).foreach(es => assert(es == s)) }
    // int8 pre-score error is a fraction of the top-k spread, so the
    // 3×k rerank pool recalls ~all of the true top-10; floor at 0.9
    // (not equality) for corpus-regeneration headroom
    val recall = exact.map(r => (r._1, r._2)).toSet
      .intersect(quant.map(r => (r._1, r._2)).toSet).size.toDouble /
      exact.length
    assert(recall >= 0.9, s"quantized recall too low: $recall")
  }

  test("sim_search_quant certificate: pooled recall clears its floor") {
    // the graded key's row: the certificate the driver hash-checks must
    // hold on this corpus with room to spare (spot check; the 0.9 floor
    // above is the tight one)
    val row = Similarity.simSearchQuantChecked(spark, sf).collect().head
    assert(row.getAs[Boolean]("recall_ok"),
      s"quantized pooled recall under its certified floor: $row")
    assert(row.getAs[Double]("min_recall") == 0.8)
  }

  test("IVF sim_search: bounded by exact results, sane recall") {
    import spark.implicits._
    val exact = Similarity.simSearch(spark, sf)
      .select("q_id", "c_id", "sim", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    val ivf = Similarity.simSearchIvf(spark, sf)
      .select("q_id", "c_id", "sim", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(ivf.length == exact.length)
    val exactTop1 = exact.filter(_._4 == 1).map(r => r._1 -> r._3).toMap
    ivf.foreach { case (q, _, s, _) => assert(s <= exactTop1(q) + 1e-9) }
    // probing 12/32 clusters: measured recall 1.00 on this corpus; the
    // suite floor matches the certified 0.8 contract
    val recall = exact.map(r => (r._1, r._2)).toSet
      .intersect(ivf.map(r => (r._1, r._2)).toSet).size.toDouble / exact.length
    assert(recall >= 0.8, s"ivf recall too low: $recall")
  }

  test("LSH sim_search recalls a floor of the exact top-10") {
    import spark.implicits._
    // mirrors the IVF recall floor: bounded-by-exact alone would pass a
    // bucket-config regression that degrades to near-empty candidate sets;
    // requiring overlap with the exact top-10 pins candidate volume too
    val exact = Similarity.simSearch(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.simSearchLsh(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"lsh recall too low: $recall")
  }

  test("recall certificates (driver keys) certify pooled floors with exact probe counts") {
    import spark.implicits._
    // the checked-key forms of the three approximate ANN paths: every
    // column but recall_ok is oracle-recomputable, and recall_ok must
    // hold on the suite corpus just as the driver pins it at sf0.01
    assert(Similarity.simSearchLshChecked(spark, sf)
      .as[(Long, Int, Double, Boolean)].head() == ((5L, 10, 0.8, true)))
    assert(Similarity.simSearchIvfChecked(spark, sf)
      .as[(Long, Int, Double, Boolean)].head() == ((5L, 10, 0.8, true)))
    assert(Dedup.dedupEmbedChecked(spark, sf)
      .as[(Long, Int, Double, Boolean)].head() == ((100L, 1, 0.8, true)))
  }

  test("probe predicate overloads select the query side of every ANN path") {
    import spark.implicits._
    // the ANN surface is an API, not a fixed demo: any predicate over the
    // embeddings table picks the probes; k bounds neighbors per probe
    val ex = Similarity.simSearch(spark, sf, col("vec_id").between(7, 9), k = 3)
    assert(ex.select("q_id").distinct().as[Long].collect().toSet ==
      Set(7L, 8L, 9L))
    assert(ex.groupBy("q_id").count().filter(col("count") =!= 3).count() == 0)
    // default query unchanged (oracle depends on it)
    assert(Similarity.simSearch(spark, sf)
      .select("q_id").distinct().as[Long].collect().toSet ==
      (0L until 5L).toSet)
    assert(Similarity.simSearchLsh(spark, sf, col("vec_id") === 3L)
      .select("q_id").distinct().as[Long].collect().toSet == Set(3L))
    assert(Similarity.simSearchIvf(spark, sf, col("vec_id") === 4L)
      .select("q_id").distinct().as[Long].collect().toSet == Set(4L))
    assert(Dedup.dedupEmbed(spark, sf, col("vec_id") === 5L)
      .select("q_id").as[Long].collect().toSet == Set(5L))
  }

  test("LSH sim_search similarities never exceed exact-path top-1") {
    import spark.implicits._
    val exact = Similarity.simSearch(spark, sf)
      .filter(col("rnk") === 1).select("q_id", "sim")
      .as[(Long, Double)].collect().toMap
    val lsh = Similarity.simSearchLsh(spark, sf)
      .filter(col("rnk") === 1).select("q_id", "sim")
      .as[(Long, Double)].collect()
    lsh.foreach { case (q, s) => assert(s <= exact(q) + 1e-9) }
  }

  test("mm_decode sums equal an independent Scala recomputation of the planting") {
    import spark.implicits._
    // the fixture plants pixel arithmetic; the operator decodes PNG bytes
    // with ImageIO knowing nothing of the planting. Equality over the whole
    // corpus proves the executor-side decode read every pixel (the DuckDB
    // twin re-proves it cross-engine; this is the in-suite form)
    val got = Multimodal.mmDecode(spark, sf)
      .as[(Long, Int, Int, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, w, h, sr, sg, sb) =>
      assert(w == Multimodal.imgWidth(id) && h == Multimodal.imgHeight(id),
        s"doc $id dims ${w}x$h")
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Multimodal.pixel(id, x, y)
        er += r; eg += g; eb += b
      }
      assert((sr, sg, sb) == ((er, eg, eb)), s"doc $id channel sums")
    }
  }

  test("mm_decode_jpeg: lossy decode stays within the mean-tolerance contract") {
    import spark.implicits._
    // the JPEG fixture plants one solid color per doc; the decode must
    // recover every doc's dims exactly and its channel means within
    // JpegMeanTol — and the certificate must be non-vacuously tight: the
    // decoded sums differ from a naive "planted exactly" recompute for at
    // least some docs (JPEG is lossy; bit-equality would mean the test
    // isn't exercising a real lossy codec)
    val got = Multimodal.mmDecodeJpeg(spark, sf)
      .as[(Long, Int, Int, Boolean)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, w, h, ok) =>
      assert(w == Multimodal.imgWidth(id) && h == Multimodal.imgHeight(id),
        s"doc $id dims ${w}x$h")
      assert(ok, s"doc $id channel means exceed the JPEG tolerance")
    }
    val sums = Multimodal.decodeImages(
        Multimodal.jpegAssets(spark, sf), payloadCol = "jpeg")
      .as[(Long, Int, Int, Long, Long, Long)].collect()
    val lossy = sums.count { case (id, w, h, sr, sg, sb) =>
      val (r, g, b) = Multimodal.jpegColor(id)
      val n = w.toLong * h
      (sr, sg, sb) != ((r * n, g * n, b * n))
    }
    assert(lossy > 0, "every JPEG decoded bit-exactly — lossy path untested")
  }

  test("decode fails loudly on undecodable payloads") {
    import spark.implicits._
    // corrupt assets are a data bug to surface, not a row to drop — the
    // operator's documented contract
    val junk = Seq((7L, Array[Byte](1, 2, 3, 4, 5))).toDF("doc_id", "png")
    val e = intercept[Exception] {
      Multimodal.decodeImages(junk).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("not a decodable image")), e)
  }

  test("text_stats ratios are in [0,1] and token math is consistent") {
    val df = TextAnalysis.textStats(spark, sf)
    assert(df.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() == 0)
    assert(df.filter(col("quality_score") < 0 || col("quality_score") > 1).count() == 0)
    assert(df.filter(col("stop_tokens") > col("n_tokens")).count() == 0)
  }

  test("token_count_bpe: frozen vocab is canonical, fixture costs exact") {
    import spark.implicits._
    // the merge-table stand-in must stay canonical: lowercase, distinct,
    // sorted (the oracle twin interpolates it verbatim — a duplicate or
    // uppercase entry would silently change the SQL literal's semantics)
    val v = TextAnalysis.SubwordVocab
    assert(v == v.map(_.toLowerCase).distinct.sorted, "vocab not canonical")
    // hand-computed costs: in-vocab word = 1 (case-folded), OOV word =
    // ceil(len/4) fallback chunks, punctuation is its own piece
    val docs = Seq(
      (1L, "The and"),            // 2 pieces, both in vocab → 2, 0 fallback
      (2L, "extraordinary"),      // 13 chars → ceil(13/4) = 4, all fallback
      (3L, "zzzzz, the"),         // zzzzz=2 + ','=1 + the=1 → 4, 3 fallback
      (4L, ""),                   // no pieces
      (5L, "a1b2")                // splits a|1|b|2 → 4 pieces, a in vocab
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenCountBpe(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((2, 2L, 0L)))
    assert(got(2L) == ((1, 4L, 4L)))
    assert(got(3L) == ((3, 4L, 3L)))
    assert(got(4L) == ((0, 0L, 0L)))
    assert(got(5L) == ((4, 4L, 3L)))
    // corpus law: every piece costs ≥ 1 token, fallback ≤ total
    val corpus = TextAnalysis.tokenCountBpe(spark, sf)
    assert(corpus.filter(col("n_subword_tokens") < col("n_pieces") ||
      col("n_fallback_tokens") > col("n_subword_tokens") ||
      col("n_fallback_tokens") < 0).count() == 0)
  }

  test("repetition_stats matches hand-computed fixtures incl. short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a"),       // all-dup words; bigram "a a" ×2 of 2; 1 trigram
      (2L, "x y"),         // no trigram level → null
      (3L, "x"),           // no bigram or trigram level → null, null
      (4L, "p q p q p")    // bi: {p q}×2 {q p}×2 of 4; tri: 3 with 1 dup
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1L) == ((3L, 0.666667, Some(1.0), Some(0.0))))
    assert(got(2L) == ((2L, 0.0, Some(1.0), None)))
    assert(got(3L) == ((1L, 0.0, None, None)))
    assert(got(4L) == ((5L, 0.6, Some(0.5), Some(0.333333))))
    // corpus-level sanity: fractions live in [0,1], every doc emits a row
    val corpus = TextAnalysis.repetitionStats(spark, sf)
    assert(corpus.count() == Tables.table(spark, sf, "documents").count())
    assert(corpus.filter(col("dup_word_frac") < 0 ||
      col("dup_word_frac") > 1 || col("top_bigram_frac") > 1 ||
      col("dup_trigram_frac") > 1).count() == 0)
  }

  test("contamination_check flags benchmark n-gram overlap, counts leaks once") {
    import spark.implicits._
    import graft.ops.Curation
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "x b c d e f y"),          // contains benchmark 5-gram "b c d e f"
      (2L, "p q r s t u v"),          // clean
      (3L, "a b c"),                  // too short for a 5-gram: trivially clean
      (4L, "b c d e f z b c d e f")   // the same leaked gram twice → counts ONCE
    ).toDF("doc_id", "text")
    val got = Curation.contaminationCheck(docs, bench, n = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
    assert(got(1L) == ((3L, 1L, 1)))
    assert(got(2L) == ((3L, 0L, 0)))
    assert(got(3L) == ((0L, 0L, 0)))
    // doc 4 has 7 grams of which "b c d e f" appears TWICE (positions 1
    // and 7) and is the only benchmark hit — it must count once
    assert(got(4L) == ((7L, 1L, 1)),
      s"repeated leaked gram double-counted: ${got(4L)}")
    // corpus sanity: BOTH branches genuinely populated at sf0.001-scale —
    // the harness's planted near-duplicates guarantee true positives, and
    // the corpus is not all-leaked, so an empty side means the gate broke
    val corpus = graft.ops.Curation.contaminationCheck(spark, sf)
    assert(corpus.filter(col("is_contaminated") === 1).count() > 0)
    assert(corpus.filter(col("is_contaminated") === 0).count() > 0)
    // the non-broadcast (shuffled-hash) regime is the same operator at a
    // different join shape: row-identical on fixtures and corpus
    val all = Tables.table(spark, sf, "documents")
    val shuffled = Curation.contaminationCheck(
      all.filter(col("doc_id") >= 20), all.filter(col("doc_id") < 20),
      n = 5, broadcastBenchmark = false)
    assert(shuffled.exceptAll(corpus).count() == 0 &&
      corpus.exceptAll(shuffled).count() == 0)
    val gotShuffled = Curation
      .contaminationCheck(docs, bench, n = 5, broadcastBenchmark = false)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
    assert(gotShuffled == got)
    assert(corpus.count() ==
      Tables.table(spark, sf, "documents")
        .filter(col("doc_id") >= 20).count())
  }

  test("contamination_strip keeps exactly the clean docs, text intact") {
    import spark.implicits._
    import graft.ops.Curation
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "x b c d e f y"), (2L, "p q r s t u v"), (3L, "a b c"),
      (4L, "b c d e f z b c d e f")
    ).toDF("doc_id", "text")
    val got = Curation.contaminationStripOn(docs, bench, n = 5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "p q r s t u v", 3L -> "a b c"))
    // corpus law: strip == check's clean set, with the original text
    val check = Curation.contaminationCheck(spark, sf)
    val cleanIds = check.filter(col("is_contaminated") === 0)
      .select("doc_id")
    val all = Tables.table(spark, sf, "documents")
      .select("doc_id", "text")
    val want = all.join(cleanIds, "doc_id")
    val strip = Curation.contaminationStrip(spark, sf)
    assert(strip.exceptAll(want).count() == 0 &&
      want.exceptAll(strip).count() == 0)
    assert(strip.count() < all.filter(col("doc_id") >= 20).count(),
      "nothing stripped — the gate is vacuous on this corpus")
  }

  test("lang_id lexicon scoring on hand-built sentences") {
    import spark.implicits._
    // run the same column logic via a temp view shape: reuse op on corpus,
    // then check the argmax rule on explicit hit columns
    val df = TextAnalysis.langId(spark, sf)
    val bad = df.filter(
      (col("pred_lang") === "en" && (col("de_hits") > col("en_hits"))) ||
        (col("pred_lang") === "es" &&
          (col("de_hits") > col("es_hits") || col("en_hits") > col("es_hits"))))
    assert(bad.count() == 0)
    assert(df.count() == Tables.table(spark, sf, "documents").count())
  }

  test("vocab_topk is the true global top-k with a deterministic cut") {
    import spark.implicits._
    val topk = TextAnalysis.vocabTopK(spark, sf)
      .as[(String, Long)].collect()
    val full = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").count()
      .as[(String, Long)].collect().toMap
    // the synthetic corpus vocabulary is smaller than k: the list is then
    // the COMPLETE vocabulary, not a truncation
    assert(topk.length == math.min(50, full.size))
    // descending counts with token tie-break — the cut is deterministic
    topk.sliding(2).foreach {
      case Array((ta, na), (tb, nb)) =>
        assert(na > nb || (na == nb && ta < tb))
      case _ =>
    }
    // completeness: no out-of-list token may beat the last in-list count
    // (the per-partition partial top-k must not drop a global winner)
    val inList = topk.map(_._1).toSet
    val floor = topk.last._2
    full.foreach { case (t, n) =>
      if (!inList.contains(t))
        assert(n <= floor, s"token $t (n=$n) beats the top-k floor $floor")
    }
  }

  test("tfidf_topk equals brute-force scoring with the rounded-rank rule") {
    import spark.implicits._
    val texts = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val n = texts.length
    val tf = texts.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (tok, occ) =>
        (id, tok, occ.length.toLong)
      }
    }
    val df = tf.groupBy(_._2).map { case (tok, rs) => tok -> rs.length.toLong }
    def score(tfv: Long, dfv: Long): Double =
      BigDecimal(tfv * math.log((n + 1.0) / (dfv + 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = tf.groupBy(_._1).flatMap { case (id, rs) =>
      rs.toSeq
        .map { case (_, tok, tfv) => (tok, tfv, df(tok), score(tfv, df(tok))) }
        .sortBy { case (tok, _, _, s) => (-s, tok) }
        .take(3).map { case (tok, tfv, dfv, s) => (id, tok, tfv, dfv, s) }
    }.toSet
    val got = TextAnalysis.tfidfTopK(spark, sf)
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("ngram_lm_score equals brute-force bigram-model means") {
    import spark.implicits._
    val texts = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
      .filter(_._2.length >= 2)
    val bigrams = texts.flatMap { case (id, toks) =>
      toks.sliding(2).map(p => (id, (p(0), p(1)))).toSeq
    }
    val cBg = bigrams.groupBy(_._2).map { case (bg, rs) => bg -> rs.length }
    val cCtx = bigrams.groupBy(_._2._1).map { case (w1, rs) => w1 -> rs.length }
    val expected = bigrams.groupBy(_._1).map { case (id, rs) =>
      val logps = rs.map { case (_, bg) =>
        BigDecimal(math.log(cBg(bg).toDouble / cCtx(bg._1)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      id -> (rs.length.toLong,
        (logps.sum.toDouble / rs.length, logps.sum))
    }
    val got = TextAnalysis.ngramLmScore(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, nBg, avg) =>
      val (eN, (eAvg, _)) = expected(id)
      assert(nBg == eN, s"doc $id bigram count")
      assert(math.abs(avg - eAvg) < 1e-6, s"doc $id avg_logp $avg vs $eAvg")
      // a corpus member's bigrams all exist in the corpus counts: the mean
      // log-probability is finite and non-positive
      assert(avg <= 0.0 && !avg.isNaN && !avg.isInfinite)
    }
  }

  test("doc_fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val a = TextAnalysis.docFingerprint(spark, sf).as[(Long, Long)].collect()
    val b = TextAnalysis.docFingerprint(spark, sf).as[(Long, Long)].collect()
    assert(a.sameElements(b))
    // order sensitivity on a fixture, through the op's OWN column (an
    // inline copy of the expression would keep passing after a drift)
    val fx = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val fps = fx.select(TextAnalysis.rollingFp(col("text")))
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("token_count: BPE-ish regex splits punctuation off words") {
    import spark.implicits._
    val fx = Seq((1L, "ab1 cd, x")).toDF("doc_id", "text")
    val n = fx.select(TextAnalysis.bpeTokenCount(col("text"))).first().getInt(0)
    assert(n == 5) // ab, 1, cd, ",", x
  }

  test("mm_audio_features equals the brute-force PCM window fold") {
    import spark.implicits._
    import graft.ops.Multimodal
    // brute force on a deterministic pseudo-random payload long enough
    // for several overlapping windows (win 8, hop 4 on the API form)
    val bytes = Array.tabulate(70)(i => ((i * 37 + 11) % 251).toByte)
    val assets = Seq((9L, bytes)).toDF("doc_id", "payload")
    val got = Multimodal.audioFeaturesOn(assets, win = 8, hop = 4)
      .orderBy(col("win_idx")).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    val sm = Array.tabulate(bytes.length / 2)(i =>
      (bytes(2 * i) & 0xff) + 256 * (bytes(2 * i + 1) & 0xff) - 16384)
    val want = (0 to (sm.length - 8) / 4).map { j =>
      val w = sm.slice(j * 4, j * 4 + 8)
      (j, w.map(x => x.toLong * x).sum,
        w.sliding(2).count(p => p(0) * p(1) < 0).toLong,
        w.map(math.abs).max)
    }
    assert(got.toSeq == want,
      s"got ${got.toSeq.take(3)}... want ${want.take(3)}...")
    // overlap law: consecutive windows share win − hop samples, so a
    // payload of n samples yields (n − win)/hop + 1 windows, not n/win
    assert(got.length == (sm.length - 8) / 4 + 1 &&
      got.length > sm.length / 8)
    // short payloads emit nothing, on the exact boundary
    val short = Seq((1L, Array.fill[Byte](15)(40))).toDF("doc_id", "payload")
    assert(Multimodal.audioFeaturesOn(short, win = 8, hop = 4).count() == 0)
    // corpus non-vacuity: zero crossings actually occur (the DC offset
    // removal is what makes signs flip on ASCII payloads)
    val corpus = Multimodal.audioFeatures(spark, sf)
    assert(corpus.filter(col("zcr") > 0).count() > 0)
  }

  test("mm_scene_cuts equals the brute-force frame-delta fold") {
    import spark.implicits._
    import graft.ops.Multimodal
    // three 8-byte frames with a planted jump between frames 2 and 3
    val text = "aaaaaaaa" + "aaaabbbb" + "zzzzzzzz" // means 97k, 97.5k, 122k
    val fx = Seq((1L, text), (2L, "short")).toDF("doc_id", "text")
    val got = Multimodal.sceneCutsOn(fx, frameBytes = 8,
      thresholdMilli = 10000L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))).toMap
    // brute force: means in milli, deltas |m2-m1|=500, |m3-m2|=24500
    assert(got(1L) == ((3L, 1L, "2", 24500L)), s"got ${got(1L)}")
    // single-frame boundary: no deltas, no cuts, max_delta 0
    assert(got(2L) == ((1L, 0L, "", 0L)), s"got ${got(2L)}")
    // corpus non-vacuity at the graded threshold: cuts exist, but the
    // detector is selective (not every frame boundary is a cut)
    val corpus = Multimodal.sceneCuts(spark, sf).collect()
    val cuts = corpus.map(_.getLong(2)).sum
    val boundaries = corpus.map(_.getLong(1) - 1).sum
    assert(cuts > 0 && cuts < boundaries / 2,
      s"cut rate $cuts/$boundaries is vacuous or indiscriminate")
  }

  test("multimodal and sketch API forms honor caller parameters") {
    import spark.implicits._
    // frame size is caller policy: a 20-byte payload at frameBytes = 8
    // explodes to 8+8+4, and the layout op predicts the same count
    val assets = Seq((1L, "abcdefghijklmnopqrst".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val frames = Multimodal.frameSample(assets, frameBytes = 8)
      .orderBy(col("frame_idx")).collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    assert(frames.toSeq == Seq((0, 8), (1, 8), (2, 4)))
    val layout = Multimodal.frameLayout(assets, frameBytes = 8).head()
    assert(layout.getInt(2) == 3 && layout.getInt(1) == 20)

    // thumbnail shape is caller policy: a 10×8 image at 2×3 samples the
    // planted pixels at (⌊tx·10/2⌋, ⌊ty·8/3⌋)
    val png = Seq((5L, Multimodal.encodePng(10, 8, Multimodal.pixel(5L, _, _))))
      .toDF("doc_id", "png")
    val thumb = Multimodal.resizeImages(png, thumbW = 2, thumbH = 3).head()
    assert(thumb.getInt(thumb.fieldIndex("thumb_w")) == 2 &&
      thumb.getInt(thumb.fieldIndex("thumb_h")) == 3)
    val expected = (for {
      ty <- 0 until 3; tx <- 0 until 2
      (r, g, b) = Multimodal.pixel(5L, tx * 10 / 2, ty * 8 / 3)
      c <- Seq(r, g, b)
    } yield c).mkString(",")
    assert(thumb.getString(thumb.fieldIndex("thumb_csv")) == expected)

    // KMV at a caller-chosen sketch size over an arbitrary key expression
    val ids = (1 to 100).map(i => Tuple1(i * 7L)).toDF("id")
    val kmv = graft.ops.Sketches.kmvDistinct(ids, col("id"), k = 8).head()
    assert(kmv.getLong(0) == 8L) // sketch filled
    assert(kmv.getLong(3) == 100L) // exact twin
    assert(kmv.getDouble(2) > 0.0)
  }

  test("multimodal frame explode covers every payload byte exactly once") {
    val frames = Multimodal.frameSample(spark, sf)
    val bytesPerDoc = frames.groupBy("doc_id")
      .agg(sum("frame_bytes").as("total"), count(lit(1)).as("frames_seen"))
    val layout = Multimodal.frameLayout(spark, sf)
    val joined = bytesPerDoc.join(layout, "doc_id")
    // the inner join must not hide docs dropped entirely by frameSample
    assert(joined.count() == layout.count())
    assert(joined.filter(col("total") =!= col("n_bytes")).count() == 0)
    assert(joined.filter(col("frames_seen").cast("int") =!= col("n_frames"))
      .count() == 0)
  }

  test("mm_resize thumbnails are 4x4 RGB samples of the decoded pixels") {
    import spark.implicits._
    val df = Multimodal.mmResize(spark, sf)
      .withColumn("thumb",
        expr("transform(split(thumb_csv, ','), s -> CAST(s AS INT))"))
    // fixed 48-cell (4×4×RGB) shape, every cell a valid channel value
    assert(df.filter(size(col("thumb")) =!= 48).count() == 0)
    assert(df.filter(expr(
      "exists(thumb, b -> b IS NULL OR b < 0 OR b > 255)")).count() == 0)
    // and the sampled values are the planted pixels at the stride positions
    df.select(col("doc_id"), col("width"), col("height"), col("thumb_csv"))
      .as[(Long, Int, Int, String)].collect().foreach {
        case (id, w, h, csv) =>
          val expected = (for {
            ty <- 0 until 4; tx <- 0 until 4
            (r, g, b) = Multimodal.pixel(id, tx * w / 4, ty * h / 4)
            c <- Seq(r, g, b)
          } yield c).mkString(",")
          assert(csv == expected, s"doc $id thumb")
      }
  }
}
