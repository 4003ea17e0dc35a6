package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** scalacheck-generated property tests (SURVEY §5.3) over in-memory
  * DataFrames — invariants that must hold for any input, not just the
  * corpus: union additivity, dedup idempotence, split partitioning.
  * (Raw Gen + seeded sampling; the scalatest-scalacheck bridge isn't in the
  * offline dependency set.)
  */
class PropertiesSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("union_all count is additive for arbitrary splits") {
    import spark.implicits._
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 1000L),
      Gen.oneOf("x", "y", "z")))
    samples(gen, 10).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("id", "tag")
      val a = df.filter(col("tag") === "x")
      val b = df.filter(col("tag") =!= "x")
      assert(a.unionAll(b).count() == df.count())
    }
  }

  test("hash dedup is idempotent for arbitrary duplicate patterns") {
    import spark.implicits._
    val gen = Gen.listOfN(25, Gen.oneOf("a", "b", "c", "d"))
    samples(gen, 10).filter(_.nonEmpty).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .withColumn("h", sha2(col("text"), 256))
      val once = df.dropDuplicates("h")
      assert(once.count() == texts.distinct.size)
      assert(once.dropDuplicates("h").count() == once.count())
    }
  }

  test("ngram pair join is exact over its blocking for random corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    // random docs over a small vocab (so shared shingles + real dups occur),
    // with forced duplicate docs appended
    val docGen = Gen.listOfN(8, Gen.oneOf("w0", "w1", "w2", "w3", "w4", "w5"))
    samples(Gen.listOfN(20, docGen), 5).foreach { docs =>
      val corpus = (docs ++ docs.take(3)).zipWithIndex
        .map { case (toks, i) => (i.toLong, toks) }
        .toDF("doc_id", "tokens")
      val sh = Dedup.shingleSets(corpus)
      val shingleByDoc = sh.collect().map { r =>
        (r.getAs[Long]("doc_id"), r.getAs[Seq[Long]]("shingles").toSet)
      }.toMap
      val keysByDoc = Dedup.bandKeys(sh).collect()
        .map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Int]("band"), r.getAs[Long]("m1"), r.getAs[Long]("m2"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // expected = every pair blocked in ANY band with true Jaccard >= 0.5 —
      // the join must find exactly these (soundness AND completeness given
      // the blocking)
      val expected = (for {
        (a, sa) <- shingleByDoc; (b, sb) <- shingleByDoc
        if a < b && keysByDoc(a).intersect(keysByDoc(b)).nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if math.rint(j * 1e6) / 1e6 >= 0.5
      } yield (a, b)).toSet
      val actual = Dedup.ngramPairs(sh)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(actual == expected)
      // the forced identical dups share all shingles => always found
      assert((0 until 3).forall(i =>
        actual.contains((i.toLong, (docs.size + i).toLong))))
    }
  }

  test("png encoder round-trips through imageio exactly for arbitrary images") {
    // the multimodal fixture's whole evidentiary value: the hand-rolled
    // encoder (Deflater + CRC32, no ImageIO) and the operators' ImageIO
    // decode are independent implementations that must agree pixel-exactly
    // on ANY image, not just the planted corpus — arbitrary dims and an
    // arbitrary affine pixel formula, decoded back pixel by pixel
    import java.io.ByteArrayInputStream
    import javax.imageio.ImageIO
    import graft.ops.Multimodal
    val caseGen = for {
      w <- Gen.choose(1, 23)
      h <- Gen.choose(1, 19)
      a <- Gen.choose(0, 255); b <- Gen.choose(0, 255)
      c <- Gen.choose(0, 255)
    } yield (w, h, a, b, c)
    samples(caseGen, 25).foreach { case (w, h, a, b, c) =>
      def px(x: Int, y: Int): (Int, Int, Int) =
        ((x * a + y * b + c) % 256, (x * b + y * c + a) % 256,
          (x * c + y * a + b) % 256)
      val img = ImageIO.read(
        new ByteArrayInputStream(Multimodal.encodePng(w, h, px)))
      assert(img != null, s"${w}x$h did not decode")
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val got = ((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
        assert(got == px(x, y), s"pixel ($x,$y) of ${w}x$h a=$a b=$b c=$c")
      }
    }
  }

  test("simhash fingerprint equals exploded votes for arbitrary token lists") {
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    import graft.functions.StringMath
    // tokens include empty strings and multi-byte content; compare the
    // native one-pass fingerprint against the exploded md5/conv/vote spec
    val tokGen = Gen.frequency(
      6 -> Gen.listOfN(4, Gen.alphaChar).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("héllo", "语言", "🙂"))
    val docGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, tokGen))
    val docs = samples(docGen, 30).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks) }
      .toDF("doc_id", "tokens")
    val native = docs.select(col("doc_id"),
      StringMath.simhashFingerprint(col("tokens")).as("fp"))
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

  test("dedup_spans coverage equals brute-force position counting for" +
      " arbitrary corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    // random docs over a tiny vocab so cross-document repeated runs occur
    // organically, plus a forced duplicated doc per corpus; the in-row
    // interval-union fold must equal an independent per-position scan
    val n = 4
    val docGen = Gen.choose(3, 14)
      .flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "c")))
    samples(Gen.listOfN(12, docGen), 6).foreach { raw =>
      val docs = (raw :+ raw.head).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val got = Dedup.dedupSpansOn(docs.toDF("doc_id", "text"), n)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"),
            r.getAs[Long]("covered_tokens"))).toMap
      // brute force: gram string occurrences per doc, census, coverage by
      // scanning every token position for a dup gram window containing it
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val gramsOf = toks.view.mapValues(w =>
        if (w.size < n) Seq.empty
        else (0 to w.size - n).map(i => i -> w.slice(i, i + n).mkString(" "))
      ).toMap
      val census = gramsOf.toSeq
        .flatMap { case (id, gs) => gs.map { case (_, g) => (g, id) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      docs.foreach { case (id, _) =>
        val w = toks(id)
        val dupStarts = gramsOf(id).collect {
          case (p, g) if census(g) >= 2 => p
        }
        val covered = (0 until w.size).count(p =>
          dupStarts.exists(s => s <= p && p <= s + n - 1))
        assert(got(id) == ((math.max(w.size - n + 1, 0).toLong,
          dupStarts.size.toLong, covered.toLong)),
          s"doc $id: got ${got(id)}, brute (${w.size}, $dupStarts)")
      }
    }
  }

  test("tokenize_bpe: sequential merge walk equals the iterative" +
      " lowest-rank-present reference on arbitrary strings") {
    import spark.implicits._
    import graft.functions.BpeTokenizer.{Merges, Vocab}
    // independent reference: the GPT-2-shaped algorithm — repeatedly
    // merge ALL occurrences of the lowest-rank pair PRESENT (index-skip
    // scan, structurally different from the expression's pend-scan),
    // until no rule applies
    def ref(piece: String): Seq[String] = {
      var syms = piece.map(_.toString).toVector
      var done = false
      while (!done) {
        Merges.find { case (a, b) =>
          (0 until syms.length - 1).exists(i =>
            syms(i) == a && syms(i + 1) == b)
        } match {
          case None => done = true
          case Some((a, b)) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.result()
        }
      }
      syms
    }
    val vocabIdx = Vocab.zipWithIndex.toMap
    // chars drawn from the merge rules' own alphabet so deep merge
    // chains (tab+le, val+ue) occur organically
    val pieceGen = Gen.choose(1, 12).flatMap(k => Gen.listOfN(k,
      Gen.oneOf("t", "h", "e", "a", "b", "l", "v", "u", "s", "c", "n",
        "x")).map(_.mkString))
    samples(Gen.listOfN(8, pieceGen), 8).foreach { pieces =>
      val docs = pieces.zipWithIndex
        .map { case (p, i) => (i.toLong, p) }.toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis.tokenizeBpe(docs).collect()
        .map(r => r.getLong(0) -> r.getString(4)).toMap
      pieces.zipWithIndex.foreach { case (p, i) =>
        val want = ref(p).map(s => vocabIdx.getOrElse(s, 0)).mkString(" ")
        assert(got(i.toLong) == want, s"piece '$p'")
      }
    }
  }

  test("dedup_spans_strip equals brute-force keeper-rule excision for" +
      " arbitrary corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    // same tiny-vocab shape as the dedup_spans pin (organic cross-doc
    // runs) plus a forced duplicate of the first doc; the fold-merged
    // interval excision must equal an independent per-position scan under
    // the min-doc_id canonical-keeper rule
    val n = 4
    val docGen = Gen.choose(3, 14)
      .flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "c")))
    samples(Gen.listOfN(12, docGen), 6).foreach { raw =>
      val docs = (raw :+ raw.head).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val got = Dedup.dedupSpansStripOn(docs.toDF("doc_id", "text"), n)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_toks"), r.getAs[Long]("stripped_tokens"),
            r.getAs[Long]("kept_tokens"), r.getAs[String]("clean_text"))))
        .toMap
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val gramsOf = toks.view.mapValues(w =>
        if (w.size < n) Seq.empty
        else (0 to w.size - n).map(i => i -> w.slice(i, i + n).mkString(" "))
      ).toMap
      val holders = gramsOf.toSeq
        .flatMap { case (id, gs) => gs.map { case (_, g) => (g, id) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      docs.foreach { case (id, _) =>
        val w = toks(id)
        val strips = gramsOf(id).collect {
          case (p, g) if holders(g).size >= 2 && holders(g).min != id => p
        }
        val keptIdx = (0 until w.size).filterNot(p =>
          strips.exists(s => s <= p && p <= s + n - 1))
        val expect = (w.size.toLong, (w.size - keptIdx.size).toLong,
          keptIdx.size.toLong, keptIdx.map(w).mkString(" "))
        assert(got(id) == expect, s"doc $id: got ${got(id)}, want $expect")
      }
    }
  }

  test("dedup_lines equals brute-force census+rebuild for arbitrary corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    // docs as random stacks of lines from a tiny line vocab, so some
    // lines organically cross the distinct-doc threshold and others don't
    val lineGen = Gen.oneOf("nav bar", "footer", "body x", "body y",
      "body z", "unique spice")
    val docGen = Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, lineGen))
    val minDocs = 3L
    samples(Gen.listOfN(10, docGen), 6).foreach { raw =>
      val docs = raw.zipWithIndex.map { case (ls, i) =>
        (i.toLong, ls.mkString("\n"))
      }
      val got = Dedup.dedupLinesOn(docs.toDF("doc_id", "text"), minDocs)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_lines_in"), r.getAs[Long]("n_lines_kept"),
            r.getAs[String]("clean_text"))).toMap
      val census = docs
        .flatMap { case (id, t) => t.split("\n", -1).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      docs.foreach { case (id, t) =>
        val lines = t.split("\n", -1).toSeq
        val kept = lines.filter(l => census(l) < minDocs)
        assert(got(id) == ((lines.size.toLong, kept.size.toLong,
          kept.mkString("\n"))), s"doc $id: got ${got(id)}")
      }
    }
  }

  test("dedup_lines_intra equals in-document keep-first for arbitrary" +
      " line stacks") {
    import spark.implicits._
    import graft.ops.Dedup
    // stacks from a tiny vocab so intra-doc repeats occur organically
    val lineGen = Gen.oneOf("nav bar", "footer", "body x", "body y",
      "unique spice")
    val docGen = Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, lineGen))
    samples(Gen.listOfN(10, docGen), 6).foreach { raw =>
      val docs = raw.zipWithIndex.map { case (ls, i) =>
        (i.toLong, ls.mkString("\n"))
      }
      val got = Dedup.dedupLinesIntraOn(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_lines_in"), r.getAs[Long]("n_lines_kept"),
            r.getAs[String]("clean_text")))).toMap
      docs.foreach { case (id, t) =>
        val lines = t.split("\n", -1).toSeq
        val kept = lines.zipWithIndex
          .filter { case (l, i) => lines.indexOf(l) == i }.map(_._1)
        assert(got(id) == ((lines.size.toLong, kept.size.toLong,
          kept.mkString("\n"))), s"doc $id: got ${got(id)}")
      }
    }
    // the graded plant is non-vacuous everywhere: the bottom nav always
    // repeats the top nav, and %3 docs lose the doubled paragraph too
    val planted = Dedup.dedupLinesIntra(spark, sf).collect()
    assert(planted.forall(r =>
      r.getAs[Long]("n_lines_kept") < r.getAs[Long]("n_lines_in")))
    assert(planted.exists(r => r.getAs[Long]("doc_id") % 3 == 0 &&
      r.getAs[Long]("n_lines_in") - r.getAs[Long]("n_lines_kept") >= 2))
  }

  test("dedup_spans_incremental: census merges additively and equals" +
      " the recompute over the union") {
    import spark.implicits._
    import graft.ops.Dedup
    // short token vocab at gram n=3 so cross-doc span overlap occurs
    val tokGen = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.choose(3, 12).flatMap(k => Gen.listOfN(k, tokGen))
    samples(Gen.listOfN(12, docGen), 5).foreach { raw =>
      val docs = raw.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "))
      }
      val all = docs.toDF("doc_id", "text")
      val corpus = all.filter(col("doc_id") % 2 === 0)
      val batch = all.filter(col("doc_id") % 2 === 1)
      // census-merge law: disjoint doc sets sum per gh
      val full = Dedup.spanCensus(all, 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val merged = (Dedup.spanCensus(corpus, 3).collect() ++
        Dedup.spanCensus(batch, 3).collect())
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(full == merged, "span census is not additive")
      // the incremental key == recompute over the union, batch rows only
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      val inc = rows(Dedup.dedupSpansIncrementalOn(
        Dedup.spanCensus(corpus, 3), batch, 3))
      val rec = rows(Dedup.dedupSpansOn(all, 3)
        .filter(col("doc_id") % 2 === 1))
      assert(inc == rec, "incremental drifted from recompute-over-union")
    }
  }

  test("dedup_lines_incremental: census merges additively and equals the" +
      " recompute over the union") {
    import spark.implicits._
    import graft.ops.Dedup
    val lineGen = Gen.oneOf("nav bar", "footer", "body x", "body y",
      "body z", "unique spice")
    val docGen = Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, lineGen))
    val minDocs = 3L
    samples(Gen.listOfN(10, docGen), 5).foreach { raw =>
      val docs = raw.zipWithIndex.map { case (ls, i) =>
        (i.toLong, ls.mkString("\n"))
      }
      val all = docs.toDF("doc_id", "text")
      val corpus = all.filter(col("doc_id") % 2 === 0)
      val batch = all.filter(col("doc_id") % 2 === 1)
      // census-merge law: census(corpus ∪ batch) = census(corpus) ⊎
      // census(batch) with n_docs summed per lh (disjoint doc sets)
      val full = Dedup.lineCensus(all).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val merged = (Dedup.lineCensus(corpus).collect() ++
        Dedup.lineCensus(batch).collect())
        .map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(merged == full, "census additivity broken")
      // incremental == recompute-over-union restricted to the batch
      val inc = Dedup.dedupLinesIncrementalOn(
        Dedup.lineCensus(corpus), batch, minDocs).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getString(3)))).toMap
      val rec = Dedup.dedupLinesOn(all, minDocs)
        .filter(col("doc_id") % 2 === 1).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getString(3)))).toMap
      assert(inc == rec, "incremental diverges from recompute")
    }
  }

  test("randomSplit partitions any input: disjoint, exhaustive") {
    import spark.implicits._
    samples(Gen.zip(Gen.choose(10, 60), Gen.choose(1L, 9999L)), 10)
      .foreach { case (n, seed) =>
        val df = (0 until n).map(_.toLong).toDF("id")
        val Array(a, b) = df.randomSplit(Array(0.8, 0.2), seed)
        assert(a.join(b, Seq("id"), "inner").count() == 0)
        assert(a.count() + b.count() == n)
      }
  }

  test("CDC compaction laws hold for arbitrary change logs") {
    import spark.implicits._
    import graft.ops.Lifecycle
    // random logs: few keys, colliding versions forced by a tiny ts domain
    // (the unique id tie-break is what keeps "latest" deterministic)
    val rowGen = Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 3L),
      Gen.choose(0.0, 9.0))
    samples(Gen.listOfN(30, rowGen), 8).filter(_.nonEmpty).foreach { rows =>
      val log = rows.zipWithIndex
        .map { case ((k, ts, v), i) => (k, ts, i.toLong, v) }
        .toDF("k", "ts", "id", "v")
      val state = Lifecycle.upsertLatest(log, keys = Seq("k"),
        versionCols = Seq("ts", "id"), payload = Seq("v"))
      // one row per distinct key; version counts conserve the log
      assert(state.count() ==
        log.select("k").distinct().count())
      assert(state.agg(sum("n_versions")).head().getLong(0) == rows.size)
      // the selected version is the per-key maximum of (ts, id)
      val expected = rows.zipWithIndex
        .map { case ((k, ts, v), i) => (k, (ts, i.toLong, v)) }
        .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).max }
      val got = state.collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(1)))
        .toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (k, (ts, id, v)) =>
        val (ets, eid, ev) = expected(k)
        assert((ts, id, v) == (ets, eid, ev), s"key $k")
      }
      // idempotence: compacting the compacted state is a no-op on
      // (key, version, payload), with every n_versions collapsing to 1
      val twice = Lifecycle.upsertLatest(
        state.drop("n_versions"), keys = Seq("k"),
        versionCols = Seq("ts", "id"), payload = Seq("v"))
      assert(twice.filter(col("n_versions") =!= 1).count() == 0)
      assert(twice.drop("n_versions").collect().toSet ==
        state.drop("n_versions").collect().toSet)
    }
  }

  test("SCD2 interval laws hold for arbitrary change logs") {
    import spark.implicits._
    import graft.ops.Lifecycle
    // same adversarial log shape as the CDC test: few keys, tiny ts domain
    // so same-timestamp ties are common and the (ts, id) tie-break is load-
    // bearing. Laws: one interval per log row; per key the intervals chain
    // gaplessly in (valid_from, id) order; exactly one open (is_current)
    // interval per key and it is the (ts, id)-maximal row; valid_from is
    // the log's ts multiset unchanged.
    val rowGen = Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 3L),
      Gen.choose(0.0, 9.0))
    samples(Gen.listOfN(30, rowGen), 8).filter(_.nonEmpty).foreach { rows =>
      val log = rows.zipWithIndex
        .map { case ((k, ts, v), i) => (k, ts, i.toLong, v) }
        .toDF("k", "ts", "id", "v")
      val hist = Lifecycle.scd2Intervals(log, keys = Seq("k"),
        ts = "ts", id = "id")
      val got = hist.collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getInt(5)))) // (k, (valid_from, id, v, valid_to, is_current))
      assert(got.length == rows.size) // row conservation
      got.groupBy(_._1).foreach { case (k, g) =>
        val chain = g.map(_._2).sortBy(c => (c._1, c._2))
        // gapless: each valid_to is the NEXT row's valid_from; the single
        // open interval is last and carries the is_current flag
        chain.zip(chain.tail).foreach { case (cur, next) =>
          assert(cur._4.contains(next._1), s"key $k gap at $cur -> $next")
          assert(cur._5 == 0)
        }
        assert(chain.last._4.isEmpty && chain.last._5 == 1, s"key $k")
        // current row is the version-maximal log row for the key
        val expMax = rows.zipWithIndex
          .filter { case ((rk, _, _), _) => rk == k }
          .map { case ((_, ts, v), i) => (ts, i.toLong, v) }.max
        assert((chain.last._1, chain.last._2, chain.last._3) == expMax)
        // valid_from preserves the log's ts multiset per key
        assert(chain.map(_._1).sorted.toSeq == rows.collect {
          case (rk, ts, _) if rk == k => ts
        }.sorted)
      }
    }
  }

  test("histogram laws hold for arbitrary values incl. negatives and constants") {
    import spark.implicits._
    import graft.ops.Lifecycle
    val width = 50.0
    // quarter-grid values force duplicates, bin-boundary hits (x/width
    // integral), negative bins, and — via the constant generator — the
    // all-equal corner a corpus never shows
    val valuesGen = Gen.oneOf(
      Gen.listOfN(30, Gen.choose(-80, 80).map(_ * 12.5)),
      Gen.choose(-80, 80).map(q => List.fill(12)(q * 12.5)))
    samples(valuesGen, 10).filter(_.nonEmpty).foreach { vs =>
      val got = Lifecycle.histogram(vs.toDF("v"), "v", width)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      // brute force with the operator's own IEEE bin function
      val expected = vs.groupBy(v => math.floor(v / width).toLong)
        .map { case (b, g) =>
          (b, g.size.toLong, g.min, g.max, b * width)
        }.toSet
      assert(got == expected, s"vs=$vs")
      // laws the shape must satisfy regardless of binning arithmetic:
      // counts conserve, and each bin's observed range sits inside its
      // half-open interval [bin*width, (bin+1)*width)
      assert(got.toSeq.map(_._2).sum == vs.size)
      got.foreach { case (b, _, lo, hi, start) =>
        assert(start == b * width && start <= lo && lo <= hi &&
          hi < (b + 1) * width, s"bin $b [$lo,$hi]")
      }
    }
  }

  test("group entropy matches a brute-force Shannon fold on arbitrary mixes") {
    import spark.implicits._
    import graft.ops.Lifecycle
    // few groups × tiny label vocabulary: single-type groups (entropy 0),
    // uniform mixes (entropy ln k), and skewed mixes all occur
    val rowGen = Gen.zip(Gen.choose(0L, 3L), Gen.oneOf("a", "b", "c", "d"))
    samples(Gen.listOfN(40, rowGen), 10).filter(_.nonEmpty).foreach { rows =>
      val got = Lifecycle.groupEntropy(rows.toDF("g", "l"), "g", "l")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val expected = rows.groupBy(_._1).map { case (g, es) =>
        val counts = es.groupBy(_._2).map(_._2.size.toLong)
        val n = counts.sum
        val h = math.log(n.toDouble) -
          counts.map(c => c * math.log(c.toDouble)).sum / n
        g -> (n, counts.size.toLong, math.max(h, 0.0))
      }
      assert(got.keySet == expected.keySet)
      got.foreach { case (g, (n, k, h)) =>
        val (en, ek, eh) = expected(g)
        assert(n == en && k == ek, s"group $g counts")
        // the operator rounds ln terms to 9 dp and the result to 6 dp;
        // 2e-6 absorbs the rounding boundary without hiding a real error
        assert(math.abs(h - eh) <= 2e-6, s"group $g: $h vs $eh")
        assert(h >= 0.0 && h <= math.log(ek.toDouble) + 2e-6, s"group $g range")
      }
    }
  }

  test("degenerate groups: minmax scales to 0.5, z-score emits null, never NaN/Inf") {
    import spark.implicits._
    import graft.ops.Lifecycle
    // random groups where constant groups and single-row groups are
    // COMMON (tiny value domain): the documented conventions — constant
    // group scales to 0.5, single-row/constant group has null z and
    // is_outlier 0 — are branches the corpus never reaches
    val rowGen = Gen.zip(Gen.choose(0L, 5L), Gen.choose(0, 3).map(_ * 10.0))
    samples(Gen.listOfN(25, rowGen), 10).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("g", "v")
      val byG = rows.groupBy(_._1).map { case (g, es) => g -> es.map(_._2) }

      val m = Lifecycle.minmaxScale(df, "g", "v")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(m.length == rows.size)
      m.foreach { case (g, v, s) =>
        val vs = byG(g)
        if (vs.max == vs.min) assert(s == 0.5, s"constant group $g")
        else {
          assert(s >= 0.0 && s <= 1.0)
          if (v == vs.min) assert(s == 0.0)
          if (v == vs.max) assert(s == 1.0)
        }
      }

      val z = Lifecycle.anomalyZscore(df, "g", "v", threshold = 1.5)
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getInt(3)))
      assert(z.length == rows.size)
      z.foreach { case (g, _, zv, flag) =>
        val vs = byG(g)
        if (vs.size < 2 || vs.max == vs.min) {
          assert(zv.isEmpty, s"degenerate group $g must have null z")
          assert(flag == 0)
        } else {
          assert(zv.exists(d => !d.isNaN && !d.isInfinite), s"group $g")
          assert(flag == (if (zv.exists(d => math.abs(d) > 1.5)) 1 else 0))
        }
      }
    }
  }

  test("as-of join equals brute-force latest-ref-at-or-before on arbitrary logs") {
    import spark.implicits._
    import graft.ops.Temporal
    // tiny ts domain forces exact probe/ref TIES (the inclusive at-or-
    // before bound) and negative epochs (pre-1970 data) — neither occurs
    // in the harness corpus
    val evGen = Gen.zip(Gen.choose(0L, 3L), Gen.choose(-5L, 5L),
      Gen.oneOf("click", "purchase", "view"))
    samples(Gen.listOfN(30, evGen), 10).filter(_.nonEmpty).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ts, t), i) =>
        (i.toLong, u, ts, t, 1.0) }
      val df = rows.toDF("event_id", "user_id", "ts_ns", "event_type",
        "value")
      val got = Temporal.joinAsof(df, "purchase", "click").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4)))))
        .toMap
      val clicks = rows.filter(_._4 == "click")
      val purchases = rows.filter(_._4 == "purchase")
      assert(got.keySet == purchases.map(_._1).toSet) // probes conserved
      purchases.foreach { case (id, u, ts, _, _) =>
        val expect = clicks.filter(c => c._2 == u && c._3 <= ts)
          .map(_._3).reduceOption(_ max _)
        assert(got(id) == expect.map(r => (r, ts - r)), s"purchase $id")
      }
    }
  }

  test("range join equals brute-force trailing-window aggregates on arbitrary logs") {
    import spark.implicits._
    import graft.ops.Temporal
    // ts spans negatives and the window (7) never divides the domain:
    // exercises the integer-`div` binning at bucket edges on both sides
    // of zero, where truncating and flooring division disagree
    val win = 7L
    val evGen = Gen.zip(Gen.choose(0L, 3L), Gen.choose(-30L, 30L),
      Gen.oneOf("click", "purchase"), Gen.choose(0, 10).map(_ * 0.5))
    samples(Gen.listOfN(40, evGen), 10).filter(_.nonEmpty).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ts, t, v), i) =>
        (i.toLong, u, ts, t, v) }
      val df = rows.toDF("event_id", "user_id", "ts_ns", "event_type",
        "value")
      val got = Temporal.joinRange(df, "purchase", "click", win).collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4))).toMap
      val clicks = rows.filter(_._4 == "click")
      val purchases = rows.filter(_._4 == "purchase")
      assert(got.keySet == purchases.map(_._1).toSet) // zero-ref probes kept
      purchases.foreach { case (id, u, ts, _, _) =>
        val inWin = clicks.filter(c =>
          c._2 == u && c._3 > ts - win && c._3 <= ts)
        assert(got(id) == ((inWin.size.toLong, inWin.map(_._5).sum)),
          s"purchase $id at ts $ts")
      }
    }
  }

  test("N-stage funnel equals brute-force contiguous matching on arbitrary logs") {
    import spark.implicits._
    import graft.ops.Temporal
    val stages = Seq("a", "b", "c", "d")
    // same-ts chains (a,b,c at one instant must all qualify — earlier
    // stages order first), out-of-order stages, and noise types
    val evGen = Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 6L),
      Gen.oneOf("a", "b", "c", "d", "x"))
    samples(Gen.listOfN(35, evGen), 10).filter(_.nonEmpty).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ts, t), i) =>
        (i.toLong, u, ts, t, 1.0) }
      val df = rows.toDF("event_id", "user_id", "ts_ns", "event_type",
        "value")
      val got = Temporal.eventFunnel(df, stages).collect()
        .map(r => r.getLong(0) ->
          (stages.indices.map(i => r.getInt(1 + i)), r.getInt(5))).toMap
      val byUser = rows.filter(r => stages.contains(r._4)).groupBy(_._2)
      assert(got.keySet == byUser.keySet) // only noise-free users dropped
      byUser.foreach { case (u, es) =>
        // brute force: t_i = earliest stage-i event at-or-after t_{i-1}
        val ts = stages.scanLeft(Option(Long.MinValue)) { (prev, s) =>
          prev.flatMap(p => es.filter(e => e._4 == s && e._3 >= p)
            .map(_._3).reduceOption(_ min _))
        }.tail
        val has = ts.map(t => if (t.isDefined) 1 else 0)
        assert(got(u) == ((has, has.sum)), s"user $u")
      }
    }
  }

  test("moving average equals a brute-force sliding fold on arbitrary logs") {
    import spark.implicits._
    import graft.ops.Temporal
    // tied timestamps make the ROWS frame order on (ts, event_id) the
    // only deterministic rule — brute force applies the same total order;
    // multiples of 3 keep every frame mean (n ∈ 1..3) exactly binary-
    // representable, so the 6-dp round is an identity on both sides and
    // equality is bit-for-bit with no rounding-mode coupling
    val evGen = Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 5L),
      Gen.choose(0, 20).map(_ * 3.0))
    samples(Gen.listOfN(30, evGen), 10).filter(_.nonEmpty).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ts, v), i) =>
        (i.toLong, u, ts, "e", v) }
      val df = rows.toDF("event_id", "user_id", "ts_ns", "event_type",
        "value")
      val frame = 3
      val got = Temporal.windowMovingAvg(df, frame).collect()
        .map(r => r.getLong(0) -> (r.getDouble(3), r.getLong(4))).toMap
      rows.groupBy(_._2).values.foreach { es =>
        val ordered = es.sortBy(e => (e._3, e._1))
        ordered.zipWithIndex.foreach { case ((id, _, _, _, _), i) =>
          val win = ordered.slice(math.max(0, i - frame + 1), i + 1)
          val mean = win.map(_._5).sum / win.size
          assert(got(id) == ((mean, win.size.toLong)), s"event $id")
        }
      }
    }
  }

  test("rolling fingerprint equals an independent hash fold for arbitrary token lists") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val Mod = 144115188075855881L
    def md5term(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(5), 16)
    }
    // small vocabulary forces repeated tokens (where an order-insensitive
    // hash would collide); the empty-text row pins the [''] token fold
    val docGen = Gen.listOfN(8, Gen.oneOf("ab", "cd", "ef", "gh"))
      .map(_.mkString(" "))
    samples(Gen.listOfN(12, docGen), 10).foreach { texts =>
      val all = texts :+ ""
      val df = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = df.select(col("doc_id"),
        TextAnalysis.rollingFp(col("text")).as("fp")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      all.zipWithIndex.foreach { case (t, i) =>
        val expect = t.split(" ", -1).foldLeft(0L)(
          (acc, tok) => (acc * 31 + md5term(tok)) % Mod)
        assert(got(i.toLong) == expect, s"doc $i text '$t'")
      }
    }
  }

  test("simhash banded pairs equal brute-force hamming<=3 on arbitrary near-dup corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    // random corpora BUILT to cluster: each doc is a base token list with
    // 0-3 positions perturbed, so fingerprints land at assorted small
    // hamming distances — the regime where the pigeonhole claim (any
    // pair ≤ 3 shares an intact band) either holds or visibly loses pairs
    val base = (0 until 30).map(i => s"tok$i").toVector
    val docGen = Gen.zip(Gen.choose(0, 3), Gen.listOfN(3,
      Gen.zip(Gen.choose(0, 29), Gen.oneOf("alt1", "alt2", "alt3"))))
      .map { case (k, edits) =>
        edits.take(k).foldLeft(base) { case (t, (pos, w)) =>
          t.updated(pos, w) }.mkString(" ")
      }
    samples(Gen.listOfN(10, docGen), 8).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val banded = Dedup.dedupSimhashPairs(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
      val fp = Dedup.dedupSimhash(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (a, fa) <- fp; (b, fb) <- fp if a < b
        h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
      } yield (a, b, h.toLong)).toSet
      assert(banded == brute)
      spark.catalog.clearCache() // dedupSimhashPairs persists fingerprints
    }
  }

  test("column profile matches a brute-force profile on null-heavy frames") {
    import spark.implicits._
    import graft.ops.Lifecycle
    // ~40% nulls and a tiny value domain: all-null columns and columns
    // with a single distinct value — the classic profiler corner cases —
    // occur regularly. Exact fields only; the HLL certificate column is
    // a corpus-level contract checked elsewhere.
    val rowGen = Gen.zip(
      Gen.option(Gen.oneOf("a", "b", "c")).map(_.orNull),
      Gen.option(Gen.choose(0, 3).map(_ * 1.5)))
    samples(Gen.listOfN(20, rowGen), 10).foreach { rows =>
      val df = rows.map { case (s, v) =>
        (s, v.map(java.lang.Double.valueOf).orNull) }.toDF("s", "v")
      val got = Lifecycle.profileStats(df,
        Seq("s" -> false, "v" -> true)).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(got.keySet == Set("s", "v"))
      val ss = rows.flatMap(r => Option(r._1))
      val vs = rows.flatMap(_._2)
      val s = got("s")
      assert(s.getLong(1) == rows.size && s.getLong(2) == rows.size - ss.size)
      assert(s.getLong(3) == ss.distinct.size)
      if (ss.isEmpty) assert(s.isNullAt(7) && s.isNullAt(8))
      else assert(s.getString(7) == ss.min && s.getString(8) == ss.max)
      val v = got("v")
      assert(v.getLong(1) == rows.size && v.getLong(2) == rows.size - vs.size)
      assert(v.getLong(3) == vs.distinct.size)
      if (vs.isEmpty) assert(v.isNullAt(5) && v.isNullAt(6))
      else assert(v.getDouble(5) == vs.min && v.getDouble(6) == vs.max)
    }
  }

  test("batch sessionization equals a brute-force interval fold on arbitrary events") {
    import java.sql.Timestamp
    import spark.implicits._
    // the gap-session definition on ANY event set — tie-heavy minute grid
    // so equal timestamps, boundary-exact gaps (== gap stays one session),
    // and single-event sessions all occur; value=1.0 keeps the double sum
    // order-free so the comparison is exact
    val gapMin = 5
    val gapMs = gapMin * 60000L
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rowGen = Gen.zip(Gen.choose(0L, 3L), Gen.choose(0, 120))
    samples(Gen.listOfN(40, rowGen), 8).filter(_.nonEmpty).foreach { rows =>
      val events = rows.zipWithIndex.map { case ((u, m), i) =>
        (i.toLong, new Timestamp(base + m * 60000L), u, "click", 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.streaming.Streams
        .sessionizeBatch(events, gapMinutes = gapMin)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
          r.getDouble(4))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(e => base + e._2 * 60000L).sorted
        val sessions = ts.foldLeft(List.empty[List[Long]]) { (acc, t) =>
          acc match {
            case h :: rest if t - h.head <= gapMs => (t :: h) :: rest
            case _ => List(t) :: acc
          }
        }
        sessions.map(s => (u, s.size.toLong, s.min, s.max, s.size.toDouble))
      }.toSet
      assert(got == expected, s"rows=$rows")
    }
  }

  test("cluster labels equal union-find components on arbitrary graphs") {
    import spark.implicits._
    import graft.ops.Dedup
    // min-label propagation + pointer jumping vs an independent union-find:
    // every node must land on the minimum id of its connected component,
    // for random multigraphs (duplicate edges, both orientations, chains
    // long enough to engage the jumping rounds)
    val n = 16
    val edgeGen = Gen.listOfN(20,
      Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
      .map(_.filter(p => p._1 != p._2))
    samples(edgeGen, 5).filter(_.nonEmpty).foreach { edges =>
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = touched.map(i => i -> find(i.toInt).toLong).toMap
      val got = Dedup.clusterLabels(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  test("prior-labels incremental dedup equals a union-find oracle on arbitrary graphs") {
    import spark.implicits._
    import graft.ops.Dedup
    // the quotient-homomorphism claim on ANY graph and ANY new/existing
    // split, checked against an INDEPENDENT plain-Scala union-find (not a
    // second Spark path): survivors are exactly the min new id of each
    // all-new component of the full pair graph, where the overload only
    // ever sees prior labels for the existing side plus batch-touching
    // edges — contracted existing subgraph, random singletons, isolated
    // new docs, and existing-existing edges it must ignore all arise
    val n = 14
    val edgeGen = Gen.listOfN(18,
      Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
      .map(_.filter(p => p._1 != p._2))
    val splitGen = Gen.listOfN(n, Gen.oneOf(true, false))
    samples(Gen.zip(edgeGen, splitGen), 6).foreach { case (edges, flags) =>
      val isNew = flags.zipWithIndex.collect { case (true, i) => i.toLong }.toSet
      def unionFind(use: ((Long, Long)) => Boolean): Int => Int = {
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x
          else { parent(x) = find(parent(x)); parent(x) }
        edges.filter(use).foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        find
      }
      // oracle: closure over the FULL graph; survivors = all-new components
      val full = unionFind(_ => true)
      val expected = (0 until n).groupBy(full).values.collect {
        case members if members.forall(m => isNew(m.toLong)) =>
          val m = members.map(_.toLong).min; (m, m)
      }.toSet
      // the overload's inputs: labels closed over existing-only edges
      val prior = unionFind { case (a, b) => !isNew(a) && !isNew(b) }
      val priorDf = (0 until n).filterNot(i => isNew(i.toLong))
        .map(i => (i.toLong, prior(i).toLong)).toDF("doc_id", "cluster_id")
      val got = Dedup.dedupIncremental(
        isNew.toSeq.toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"),
        priorDf).as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"edges=$edges new=$isNew got=$got expected=$expected")
    }
  }

  test("approx-quantile rank certificate holds for arbitrary groups and values") {
    // the quantile_approx contract on ANY data, not just the corpus: each
    // sketch value's occupied rank interval [count(<q)+1, count(<=q)],
    // widened by n/accuracy + 1, must contain the target rank p·n —
    // including adversarial shapes (heavy ties, singleton groups, skew)
    import spark.implicits._
    val gen = Gen.listOfN(60, Gen.zip(Gen.oneOf("g1", "g2", "g3"),
      Gen.oneOf(Gen.choose(-50, 50), Gen.const(7)))) // tie-heavy mix
    val probs = Seq(0.25, 0.5, 0.75)
    val acc = 1000
    samples(gen, 8).filter(_.nonEmpty).foreach { rows =>
      val df = rows.map { case (g, v) => (g, v.toDouble) }.toDF("g", "v")
      val aq = graft.ops.Relational
        .approxQuantiles(df, "g", "v", probs, acc)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), probs.indices.map(i => r.getDouble(i + 2))))
        .toMap
      val data = rows.groupBy(_._1).view
        .mapValues(_.map(_._2.toDouble).sorted).toMap
      aq.foreach { case (g, (n, qs)) =>
        val vs = data(g)
        assert(n == vs.size)
        probs.zip(qs).foreach { case (p, q) =>
          val lt = vs.count(_ < q)
          val le = vs.count(_ <= q)
          val tol = n.toDouble / acc + 1.0
          val target = n * p
          assert(target >= lt - tol && target <= le + tol,
            s"group $g p=$p q=$q rank interval [$lt+1,$le] target $target")
        }
      }
    }
  }

  test("native ngram_rep_counts equals the HOF formulation for arbitrary token lists") {
    // the quadratic interpreted-lambda formulation repetition_stats
    // replaced, kept here as the independent twin: both must produce the
    // same six counters — and therefore bit-identical fractions — on any
    // token list, duplicates and single-token edge cases included
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, size, split}
    val gen = Gen.listOfN(14, Gen.oneOf("a", "b", "c", "a b")) // 'a b' never occurs: split re-tokenizes
    samples(gen, 12).filter(_.nonEmpty).foreach { words =>
      val df = Seq(words.mkString(" ")).toDF("text")
        .withColumn("w", split(col("text"), " "))
      val native = df.select(
          graft.functions.StringMath.ngramRepCounts(col("w")).as("rc"))
        .select("rc.*").as[(Long, Long, Long, Long, Long, Long)].head()
      val hof = df
        .withColumn("bi", expr(
          """CASE WHEN size(w) >= 2 THEN
            |  transform(sequence(0, size(w) - 2),
            |    i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .withColumn("tri", expr(
          """CASE WHEN size(w) >= 3 THEN
            |  transform(sequence(0, size(w) - 3),
            |    i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2),
            |                ' ', element_at(w, i + 3)))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .select(
          size(col("w")).cast("long"),
          size(org.apache.spark.sql.functions.array_distinct(col("w")))
            .cast("long"),
          size(col("bi")).cast("long"),
          expr("""CASE WHEN size(bi) > 0 THEN
                 |  array_max(transform(array_distinct(bi),
                 |    g -> size(filter(bi, x -> x = g))))
                 |ELSE 0 END""".stripMargin).cast("long"),
          size(col("tri")).cast("long"),
          size(org.apache.spark.sql.functions.array_distinct(col("tri")))
            .cast("long"))
        .as[(Long, Long, Long, Long, Long, Long)].head()
      assert(native == hof, s"tokens=${words.take(14)}")
    }
  }

  test("mix_sample conservation laws hold for arbitrary frames and weights") {
    // for ANY input: every emitted row is a copy of an input row with a
    // dense 0..n-1 copy index; integer weights replicate exactly; weight 0
    // drops; fractional weights emit floor(w) or floor(w)+1 copies; and
    // the same salt reproduces the identical sample while a different
    // salt draws independently (per-row counts may differ)
    import spark.implicits._
    import graft.ops.Sources
    val gen = Gen.listOfN(40, Gen.oneOf("a", "b", "c", "d"))
    val weights = Map("a" -> 2.0, "b" -> 0.0, "c" -> 1.7)
    samples(gen, 8).filter(_.nonEmpty).foreach { tags =>
      val df = tags.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "tag")
      def draw(salt: String) = Sources.mixSample(df, col("id"), col("tag"),
          weights, defaultWeight = 0.5, salt = salt)
        .select(col("id"), col("tag"), col("copy_idx"))
        .as[(Long, String, Long)].collect().toSeq
      val got = draw("s1")
      val byId = got.groupBy(_._1)
      byId.foreach { case (id, rows) =>
        assert(rows.map(_._3).sorted == (0L until rows.size).toSeq,
          s"id $id copy_idx not dense")
        assert(rows.map(_._2).distinct.size == 1)
      }
      val counts = byId.view.mapValues(_.size).toMap
      tags.zipWithIndex.foreach { case (t, i) =>
        val n = counts.getOrElse(i.toLong, 0)
        t match {
          case "a" => assert(n == 2, s"integer weight 2.0 emitted $n")
          case "b" => assert(n == 0, s"weight 0 emitted $n")
          case "c" => assert(n == 1 || n == 2, s"weight 1.7 emitted $n")
          case _   => assert(n == 0 || n == 1, s"weight 0.5 emitted $n")
        }
      }
      assert(draw("s1").sorted == got.sorted, "same salt not reproducible")
    }
  }

  test("video band state merges by plain union and the maintained-table " +
      "probe equals the derive-in-key incremental form") {
    import graft.ops.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id")).filter(col("doc_id") < 64)
    val vids = Multimodal.videoStructured(docs).persist()
    try {
      def state(df: org.apache.spark.sql.DataFrame) =
        Multimodal.videoBandState(df, Multimodal.CutFrameBytes,
          Multimodal.CutThresholdMilli)
      val even = vids.filter(col("doc_id") % 2 === 0)
      val odd = vids.filter(col("doc_id") % 2 === 1)
      // union-merge law: per-video derivation ⇒ state(a ⊎ b) is the
      // plain union of the per-corpus states (band rows are unique per
      // (doc, frame, band), so set equality is multiset equality)
      val full = state(vids).collect().map(_.toSeq).toSet
      val merged = (state(even).collect() ++ state(odd).collect())
        .map(_.toSeq).toSet
      assert(full == merged, "video band state is not union-mergeable")
      // the production probe (maintained table assembled by appends)
      // equals the self-contained derive-in-key form
      val appended = state(even.filter(col("doc_id") % 4 === 0))
        .unionByName(state(even.filter(col("doc_id") % 4 === 2)))
      val viaState = Multimodal.dedupVideoIncrementalOnState(appended,
        odd, Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
        Multimodal.VideoTauMilli, Multimodal.VideoHamMax)
        .collect().map(_.toSeq).toSet
      val direct = Multimodal.dedupVideoIncrementalOn(even, odd,
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
        Multimodal.VideoTauMilli, Multimodal.VideoHamMax)
        .collect().map(_.toSeq).toSet
      assert(viaState == direct,
        "maintained-table probe drifted from the derive-in-key form")
    } finally {
      vids.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }

  test("band states restrict by population: a doc_id slice of the state " +
      "equals the state of the sliced population (the landedBandsOf " +
      "filter corollary of the union-merge law)") {
    import graft.ops.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id")).filter(col("doc_id") < 64)
    val sub = docs.filter(col("doc_id") % 4 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // per-document derivation ⇒ filtering the full state to a
    // sub-population's ids IS that sub-population's state — the law
    // that lets the cycle keys slice one landed table per side
    val vids = Multimodal.videoStructured(docs).persist()
    val vSub = Multimodal.videoStructured(sub).persist()
    try {
      val full = Multimodal.videoBandState(vids,
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli)
      val sliced = full.join(sub, Seq("doc_id"), "left_semi")
      val direct = Multimodal.videoBandState(vSub,
        Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli)
      assert(rows(sliced) == rows(direct),
        "video band slice drifted from the sliced population's state")
      assert(rows(direct).nonEmpty)
      val iFull = Multimodal.imageBandState(Multimodal.pairImages(docs))
      val iSliced = iFull.join(sub, Seq("doc_id"), "left_semi")
      val iDirect = Multimodal.imageBandState(Multimodal.pairImages(sub))
      assert(rows(iSliced) == rows(iDirect),
        "image band slice drifted from the sliced population's state")
    } finally {
      vids.unpersist(blocking = false)
      vSub.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }

  test("audio band state merges by plain union and the maintained-table " +
      "probe equals the derive-in-key incremental form") {
    import graft.ops.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id")).filter(col("doc_id") < 64)
    val clips = Multimodal.audioStructured(docs).persist()
    try {
      def state(df: org.apache.spark.sql.DataFrame) =
        Multimodal.audioBandState(df, Multimodal.AudioFpWin,
          Multimodal.AudioSegWin)
      val even = clips.filter(col("doc_id") % 2 === 0)
      val odd = clips.filter(col("doc_id") % 2 === 1)
      val full = state(clips).collect().map(_.toSeq).toSet
      val merged = (state(even).collect() ++ state(odd).collect())
        .map(_.toSeq).toSet
      assert(full == merged, "audio band state is not union-mergeable")
      val appended = state(even.filter(col("doc_id") % 4 === 0))
        .unionByName(state(even.filter(col("doc_id") % 4 === 2)))
      val viaState = Multimodal.dedupAudioIncrementalOnState(appended,
        odd, Multimodal.AudioFpWin, Multimodal.AudioSegWin,
        Multimodal.AudioTauMilli, Multimodal.AudioHamMax)
        .collect().map(_.toSeq).toSet
      val direct = Multimodal.dedupAudioIncrementalOn(even, odd,
        Multimodal.AudioFpWin, Multimodal.AudioSegWin,
        Multimodal.AudioTauMilli, Multimodal.AudioHamMax)
        .collect().map(_.toSeq).toSet
      assert(viaState == direct,
        "maintained-table probe drifted from the derive-in-key form")
    } finally {
      clips.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }

  test("image band state merges by plain union and the maintained-table " +
      "probe equals screening against the derived corpus bands") {
    import graft.ops.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id")).filter(col("doc_id") < 64)
    val imgs = Multimodal.pairImages(docs).persist()
    try {
      val even = imgs.filter(col("doc_id") % 2 === 0)
      val odd = imgs.filter(col("doc_id") % 2 === 1)
      val full = Multimodal.imageBandState(imgs).collect()
        .map(_.toSeq).toSet
      val merged = (Multimodal.imageBandState(even).collect() ++
        Multimodal.imageBandState(odd).collect()).map(_.toSeq).toSet
      assert(full == merged, "image band state is not union-mergeable")
      // probing an append-assembled state equals probing the
      // derived-at-once corpus bands
      val appended = Multimodal
        .imageBandState(even.filter(col("doc_id") % 4 === 0))
        .unionByName(Multimodal
          .imageBandState(even.filter(col("doc_id") % 4 === 2)))
      val viaState = Multimodal.dedupImageDocsIncrementalOnState(
        appended, odd, 3L).collect().map(_.toSeq).toSet
      val direct = Multimodal.dedupImageDocsIncrementalOnState(
        Multimodal.imageBandState(even), odd, 3L)
        .collect().map(_.toSeq).toSet
      assert(viaState == direct,
        "maintained-table probe drifted from the derived-bands form")
      // the planted straddling class is screened: odd 10k+3 docs are
      // corpus image dups of their even 10k+2 partners
      val dups = Multimodal.dedupImageDocsIncrementalOnState(
        Multimodal.imageBandState(even), odd, 3L)
        .filter(col("is_dup_corpus")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(dups == (0L until 64L)
        .filter(d => d % 2 == 1 && d % 10 == 3).toSet, s"got $dups")
    } finally {
      imgs.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }

  test("mergeStates disjointness guard: an overlapping batch fails " +
      "NAMED under graft.state.checkDisjointness, and a mistyped conf " +
      "value fails naming the key") {
    import graft.ops.Curation
    val docs = Tables.table(spark, sf, "documents")
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    val bench = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = live.filter(col("doc_id") % 2 === 0)
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    try {
      spark.conf.set(Curation.CheckDisjointConf, "true")
      // batch-1 = a subset of the corpus itself: the day-1 state merge
      // must fail named instead of silently double-counting the censuses
      // (the guard fires eagerly at merge time — no collect needed)
      val err = intercept[IllegalArgumentException] {
        Curation.corpusStatesUpdateOn(corpus,
          corpus.filter(col("doc_id") % 4 === 0),
          live.filter(col("doc_id") % 4 === 3), bench, emb)
      }
      assert(err.getMessage.contains("disjointness"),
        s"unexpected message: ${err.getMessage}")
      spark.catalog.clearCache()
      // the failed run's stage boundaries were released with it
      assert(sc.getPersistentRDDs.keySet == before)
      // a mistyped value fails loudly, naming the key (the strict
      // Boundaries.boolConf parse — never a silent guard-off)
      spark.conf.set(Curation.CheckDisjointConf, "1")
      val bad = intercept[IllegalArgumentException] {
        Curation.corpusStatesUpdateOn(corpus,
          live.filter(col("doc_id") % 4 === 1),
          live.filter(col("doc_id") % 4 === 3), bench, emb)
      }
      assert(bad.getMessage.contains(Curation.CheckDisjointConf))
    } finally {
      spark.conf.unset(Curation.CheckDisjointConf)
      spark.catalog.clearCache()
    }
  }

  test("a composed pipeline that fails mid-chain releases its stage " +
      "boundaries") {
    import graft.ops.Curation
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    // a string embedding column passes the URL/text stages and fails
    // at the semantic stage, after several boundaries were made
    val emb = Tables.table(spark, sf, "embeddings")
      .withColumn("embedding", lit("x"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Curation.corpusPipelineOn(Tables.table(spark, sf, "documents"), emb)
    }
    spark.catalog.clearCache()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("postings census: merge equals recompute-over-union, heads are " +
      "genuinely re-cut, and the merged stats serve BM25 identically") {
    import graft.ops.TextAnalysis
    val docs = Tables.table(spark, sf, "documents")
    // a split DIFFERENT from the graded key's parity (the law must hold
    // for any doc-disjoint split, not the one the twin grades)
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 =!= 0)
    val merged = TextAnalysis.buildPostingsIncrementalOn(a, b,
      TextAnalysis.PostingsCap)
    val got = merged.collect().map(_.toSeq).toSet
    val want = TextAnalysis
      .buildPostings(docs, TextAnalysis.PostingsCap)
      .collect().map(_.toSeq).toSet
    assert(got == want, "postings merge drifted from recompute-over-union")
    assert(got.nonEmpty)
    // non-vacuous: some token's merged head differs from BOTH sides'
    // own heads — the re-cut (not a concat) is what the law grades
    def headsOf(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      TextAnalysis.buildPostings(df, TextAnalysis.PostingsCap)
        .select(col("token"), col("posting_head"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (ha, hb) = (headsOf(a), headsOf(b))
    val mh = merged.select(col("token"), col("posting_head"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mh.exists { case (t, h) =>
      ha.get(t).exists(_ != h) && hb.get(t).exists(_ != h)
    }, "no token's head was re-cut across the split — the pin is vacuous")
    // the serving side: BM25 over the MERGED census's df equals the
    // self-contained scorer (the maintained index feeds retrieval
    // without a corpus df aggregate)
    val served = TextAnalysis.searchBm25FromStats(merged, docs,
        TextAnalysis.SearchQueries, TextAnalysis.SearchTopK)
      .collect().map(_.toSeq).toSet
    val direct = TextAnalysis.searchBm25On(docs,
        TextAnalysis.SearchQueries, TextAnalysis.SearchTopK)
      .collect().map(_.toSeq).toSet
    assert(served == direct && served.nonEmpty,
      "BM25 over the merged census drifted from the self-contained scorer")
    spark.catalog.clearCache()
  }

  test("bandStateTtl: an in-window TTL keeps screening, an expired TTL " +
      "re-admits a re-upload (the visible policy trade), and the guards " +
      "fail named") {
    import graft.ops.{Curation, Multimodal}
    val imgs = Multimodal.pairImages(
      Tables.table(spark, sf, "documents")
        .select(col("doc_id")).limit(64)).persist()
    try {
      val corpus = imgs.filter(col("doc_id") % 2 === 0)
      val batch = imgs.filter(col("doc_id") % 2 === 1)
      // the maintained band table, generation-stamped at absorption
      val state = Multimodal.imageBandState(corpus)
        .withColumn("gen", lit(0L))
      def corpusDups(st: org.apache.spark.sql.DataFrame): Set[Long] =
        Multimodal.dedupImageDocsIncrementalOnState(
            st.drop("gen"), batch, 3L)
          .filter(col("is_dup_corpus")).select(col("doc_id"))
          .collect().map(_.getLong(0)).toSet
      val full = corpusDups(state)
      assert(full.nonEmpty, "no planted corpus image dups — vacuous")
      // in-window: gen-0 rows survive a 2-generation TTL at gen 1 —
      // the filtered table screens exactly like the full one
      assert(corpusDups(Curation.bandStateTtl(state, 1L, 2L)) == full,
        "an in-window TTL changed the screen")
      // expired: at gen 2 the gen-0 rows age out — the SAME re-uploads
      // RE-ENTER (the state-growth contract's documented trade, visible)
      assert(corpusDups(Curation.bandStateTtl(state, 2L, 2L)).isEmpty,
        "a TTL'd re-upload stayed screened — the trade is invisible")
      // guards fail named
      val g1 = intercept[IllegalArgumentException] {
        Curation.bandStateTtl(state, 1L, 0L)
      }
      assert(g1.getMessage.contains("ttlGenerations"))
      val g2 = intercept[IllegalArgumentException] {
        Curation.bandStateTtl(state.drop("gen"), 1L, 1L)
      }
      assert(g2.getMessage.contains("gen"))
    } finally {
      imgs.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }
}
