package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Profiling, TextAnalysis}
import graft.functions.TextFunctions

/** Semantics tests for the training-data pipeline extension: text
  * analysis + dedup suites (oracle parity is checked separately by the
  * driver's DuckDB gate; here we assert the *invariants* that make the
  * operators correct independent of the oracle). */
class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a b c d e", "en", "s", 9L),
    (2L, "a b c d e", "en", "s", 9L), // exact dup of 1
    (3L, "a b c d x", "en", "s", 9L), // near dup of 1 (shares "a b c", "b c d")
    (4L, "q r s t u v", "en", "s", 11L),
    (5L, "ab", "en", "s", 2L) // shorter than one shingle
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("splitsByCluster: no near-dup pair straddles a split (leak-free by construction)") {
    val sp = Dedup.splitsByCluster(spark, sf0001)
    val pairs = Dedup.jaccardPairs(spark, sf0001)
    val leaked = pairs
      .join(sp.select(col("doc_id").as("doc_i"), col("split").as("si")), "doc_i")
      .join(sp.select(col("doc_id").as("doc_j"), col("split").as("sj")), "doc_j")
      .filter(col("si") =!= col("sj"))
    assert(leaked.isEmpty,
      s"cluster-keyed split leaked pairs: ${leaked.collect().mkString(", ")}")
    // and the split is still a real 3-way partition of every doc
    val n = Tables.documents(spark, sf0001).count()
    assert(sp.count() == n)
    assert(sp.select("split").distinct().count() == 3)
  }

  test("shingles: n-gram construction and short-doc edge") {
    val sh = docs.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d", "c d e"))
    assert(sh(5L).isEmpty) // must be empty, not a descending-sequence artifact
    assert(sh(4L).length == 4)
  }

  test("polyHash matches a reference implementation") {
    def ref(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)
    val got = docs.select(TextFunctions.polyHash(col("text")).as("h"), col("text"))
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    got.foreach { case (s, h) => assert(h == ref(s), s"polyHash($s)") }
  }

  test("native PolyHash expression equals the HOF formulation on real data") {
    val bad = Tables.documents(spark, sf0001)
      .select(TextFunctions.polyHash(col("text")).as("native"),
        TextFunctions.polyHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("native ShingleHashes equals the HOF formulation on real data") {
    val bad = Tables.documents(spark, sf0001)
      .select(TextFunctions.shingleCodes(col("text"), 3).as("native"),
        TextFunctions.shingleCodesHof(col("text"), 3).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("native MinHashSig equals the composed per-permutation minima") {
    val codes = TextFunctions.shingleCodes(col("text"), 3).as("codes")
    val bad = Tables.documents(spark, sf0001)
      .select(codes)
      .select(
        org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.MinHashSig(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("codes")), 16)).as("native"),
        array((0 until 16).map(i => TextFunctions.minHash(col("codes"), i)): _*).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("BPE training learns the naively-counted top pair and merges greedily") {
    import spark.implicits._
    val merges = TextAnalysis.bpeTrain(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == TextAnalysis.BpeRounds)
    assert(merges.map(_._1).toSeq == (1L to TextAnalysis.BpeRounds))
    // round 1 winner must equal a naive driver-side count of adjacent
    // char pairs weighted by word frequency
    val words = Tables.documents(spark, sf001)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1))
    val naive = scala.collection.mutable.Map[(String, String), Long]()
    words.foreach { case (w, c) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p.take(1), p.drop(1)); naive(k) = naive.getOrElse(k, 0L) + c
      }
    }
    val best = naive.toSeq.sortBy { case ((l, r), n) => (-n, l, r) }.head
    assert((merges(0)._2, merges(0)._3) == best._1 && merges(0)._4 == best._2,
      s"round 1: got ${merges(0)}, naive $best")
    // later rounds never re-learn an earlier merge
    assert(merges.map(m => (m._2, m._3)).distinct.length == merges.length)
  }

  test("fertility report: per-source totals reconcile with the per-doc apply, ratios bounded") {
    val fert = TextAnalysis.bpeFertility(spark, sf001).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      val (w, t, c) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_chars"))
      // every word is >= 1 token; every token is >= 1 char
      assert(t >= w && c >= t, s"source ${r.getString(0)}: w=$w t=$t c=$c")
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
    // corpus totals equal the per-doc apply's totals (same vocab join)
    val apply = TextAnalysis.bpeApplyCounts(spark, sf001)
      .agg(sum(col("n_words")), sum(col("n_syms"))).collect()(0)
    assert(fert.map(_.getAs[Long]("n_words")).sum == apply.getLong(0))
    assert(fert.map(_.getAs[Long]("n_tokens")).sum == apply.getLong(1))
  }

  test("the BPE merge pass is greedy left-to-right and respects symbol boundaries") {
    import spark.implicits._
    // aaaa → [aa, aa] (non-overlap), xc|c stays (boundary: xc != c)
    val df = Seq(
      (Seq("a", "a", "a", "a"), "a", "a"),
      (Seq("a", "a", "a"), "a", "a"),
      (Seq("x", "c", "c"), "c", "c"),
      (Seq("e", "r", "e", "r"), "e", "r")).toDF("syms", "l", "r")
    val got = df.select(
        aggregate(col("syms"), array().cast("array<string>"), (out, s) =>
          when(size(out) > 0 && element_at(out, -1) === col("l") && s === col("r"),
            concat(slice(out, lit(1), size(out) - 1),
              array(concat(col("l"), col("r")))))
            .otherwise(concat(out, array(s)))).as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.toList == List(
      List("aa", "aa"), List("aa", "a"), List("x", "cc"), List("er", "er")))
  }

  test("cross-doc span fraction counts shingles shared with OTHER docs only") {
    val corpus = Seq(
      (1L, "a b c d"), // {abc, bcd}; shares abc with doc 2
      (2L, "a b c x"), // {abc, bcx}
      (3L, "p q r s t"), // 3 shingles, all unique to doc 3
      (4L, "a b") // too short to shingle: excluded, not divided by zero
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocSpanStatsOn(corpus)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 1L, 500L)),
      2L -> ((2L, 1L, 500L)),
      3L -> ((3L, 0L, 0L))))
  }

  test("native SpanHashes equals the positional HOF formulation on real data") {
    // spanCodes = shingles WITH positions: entry j must hash tokens j..j+n-1
    val bad = Tables.documents(spark, sf0001)
      .select(TextFunctions.spanCodes(col("text"), 3).as("native"),
        transform(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3),
          s => TextFunctions.polyHash(s)).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("duplicate-span removal keeps one occurrence, merges intervals, and scrubbing kills the overlap") {
    val corpus = Seq(
      (1L, "a b c d e f"),   // global-first occurrence of every shared span
      (2L, "x y a b c d z"), // embeds "a b c d" mid-doc
      (3L, "p q r s"),       // unique content — untouched
      (4L, "a b c d e f")    // exact dup of doc 1 — fully removed
    ).toDF("doc_id", "text")
    val iv = Dedup.spanRemovalOn(corpus, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 2: dup 3-spans start at 2,3 → one merged interval [2,6);
    // doc 4: starts 0..3 → [0,6) (the whole doc); docs 1/3 keep all
    assert(iv == Set((2L, 2L, 6L, 4L), (4L, 0L, 6L, 6L)))

    val scrubbed = Dedup.spanScrubbedOn(corpus, w = 3)
    val texts = scrubbed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts == Map(1L -> "a b c d e f", 2L -> "x y z",
      3L -> "p q r s", 4L -> ""))

    // the defining property: the scrubbed corpus has NO cross-document
    // duplicated span left — removal removed the overlap it found
    assert(Dedup.spanRemovalOn(scrubbed, w = 3).isEmpty)
  }

  test("incremental span removal: batch spans present in the corpus are removed, fresh content kept") {
    // ids ≡ 0 (mod 4) play the incoming batch; the rest are the corpus
    val t20 = (1 to 20).map(i => s"c$i").mkString(" ")  // 20 corpus tokens
    val fresh = (1 to 20).map(i => s"f$i").mkString(" ")
    val corpus = Seq(
      (1L, t20),           // standing corpus doc
      (4L, t20),           // batch doc: full duplicate of corpus content
      (8L, fresh),         // batch doc: fresh content — nothing removed
      (12L, s"$fresh $t20") // batch doc: half fresh, half duplicated
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalSpanRemovalOn(corpus)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 4: all 6 15-token span starts hit the corpus → whole doc out
    assert(got(4L) == ((20L, 6L, 20L, 1000L)))
    // doc 8: zero hits against the standing index
    assert(got(8L) == ((20L, 0L, 0L, 0L)))
    // doc 12: spans fully inside the t20 suffix hit (starts 20..25 →
    // merged interval [20, 40) = 20 tokens of 40 = 500 milli)
    assert(got(12L) == ((40L, 6L, 20L, 500L)))
  }

  test("property: span removal matches a naive reference on high-duplication random corpora") {
    // tiny alphabet → dense cross-doc span duplication, the regime where
    // keeper selection and interval merging actually get exercised
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("aa", "bb", "cc", "dd", "ee")
    val w = 3
    for (trial <- 1 to 8) {
      val docs = (0L until 10L).map { id =>
        val n = 5 + rnd.nextInt(25)
        id -> (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      // naive reference over span STRINGS (collision-free by construction
      // at this size): dup = in ≥2 docs; keeper = global min (doc, pos)
      val occs = docs.flatMap { case (id, text) =>
        val t = text.split(" ").filter(_.nonEmpty)
        (0 to t.length - w).map(j => (t.slice(j, j + w).mkString(" "), id, j.toLong))
      }
      val keep = occs.groupBy(_._1)
        .filter { case (_, os) => os.map(_._2).distinct.size >= 2 }
        .map { case (s, os) => s -> os.map(o => (o._2, o._3)).min }
      val removedPos = occs
        .filter(o => keep.get(o._1).exists(_ != ((o._2, o._3))))
        .map(o => (o._2, o._3))
      val expected = removedPos.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
        // merge [p, p+w) intervals over sorted starts
        val sorted = ps.map(_._2).sorted
        val ivs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        for (p <- sorted) {
          if (ivs.nonEmpty && p <= ivs.last._2) // adjacent/overlap: p ≤ prev end
            ivs(ivs.length - 1) = (ivs.last._1, p + w)
          else ivs += ((p, p + w))
        }
        ivs.map { case (s, e) => (id, s, e, e - s) }
      }.toSet
      val got = Dedup.spanRemovalOn(docs.toDF("doc_id", "text"), w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected,
        s"trial $trial: engine ${got.size} intervals vs reference ${expected.size}\n" +
          s"only-engine: ${(got -- expected).take(5)}\nonly-ref: ${(expected -- got).take(5)}")
    }
  }

  test("span scrub leaves zero cross-doc duplicate spans on real data") {
    val scrubbed = Dedup.spanScrubbedOn(
      Tables.documents(spark, sf0001).select(col("doc_id"), col("text")))
    assert(Dedup.spanRemovalOn(scrubbed).isEmpty)
  }

  test("ngram novelty attributes each shingle to its min-doc_id first holder") {
    val corpus = Seq(
      (1L, "a b c d"),           // {abc, bcd} — both first here
      (2L, "a b c d"),           // exact dup: novelty 0
      (3L, "a b c x y z")        // {abc(old), bcx, cxy, xyz}: 3/4 novel
    ).toDF("doc_id", "text")
    val nov = Dedup.ngramNoveltyOn(Dedup.shingledOn(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(nov == Set((1L, 2L, 2L), (2L, 2L, 0L), (3L, 4L, 3L)))
    // and the corpus-wide invariant: every shingle is novel exactly once,
    // so sum(n_novel) = count(distinct codes)
    val sh = Dedup.shingledOn(Tables.documents(spark, sf0001))
    val total = Dedup.ngramNoveltyOn(sh)
      .agg(sum(col("n_novel"))).collect()(0).getLong(0)
    val distinctCodes = sh.select(explode(col("codes"))).distinct().count()
    assert(total == distinctCodes)
  }

  test("incremental novelty scores the batch against the standing corpus only") {
    val corpus = Seq(
      (1L, "a b c d"),     // corpus: {abc, bcd}
      (4L, "a b c d"),     // batch (id%4==0): exact dup of corpus → 0
      (8L, "p q r s"),     // batch: all fresh → 1, even though doc 12
      (12L, "p q r s")     // batch: shares with 8 ONLY — still novel
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNoveltyOn(Dedup.shingledOn(corpus),
        pmod(col("doc_id"), lit(4L)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch docs never dilute each other: 8 and 12 both fully novel
    assert(got == Set((4L, 2L, 0L), (8L, 2L, 2L), (12L, 2L, 2L)))
  }

  test("containment catches a short doc inside a long one that Jaccard misses") {
    val corpus = Seq(
      (1L, "a b c d"), // {abc, bcd} — fully contained in doc 2
      (2L, "a b c d e f g h i j") // 8 shingles
    ).toDF("doc_id", "text")
    val sh = Dedup.shingledOn(corpus)
    val cont = Dedup.containmentPairsOn(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // C(1→2) = 2/2 = 1000 ≥ 800; C(2→1) = 2/8 = 250 < 800
    assert(cont == Set((1L, 2L, 1000L)))
    // symmetric Jaccard = 2/8 = 0.25 < 0.5: the pair is invisible to it
    assert(Dedup.jaccardPairsOn(sh).count() == 0L)
  }

  test("head coverage milli fractions follow the constructed Zipf head") {
    // 12 singleton words + one word appearing 8 times: 20 occurrences.
    // top-10 = "x"(8) + 9 singletons = 17/20 = 850 milli; wider cuts
    // cover everything.
    val docs =
      ((1L to 12L).map(i => (i, s"w$i")) :+ (13L, Seq.fill(8)("x").mkString(" ")))
        .toDF("doc_id", "text")
    val r = TextAnalysis.headCoverageOn(docs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((20L, 850L, 1000L, 1000L)))
  }

  test("PMI bigrams rank the constructed collocation first with exact counts") {
    // "aa bb" always co-occurs (6 times); "cc dd" co-occurs 5 of the
    // times cc and dd each appear (8 each) — lift must rank aa bb
    // first. Filler words keep both pairs above min support without
    // adding competing bigrams (each filler bigram is unique).
    val docs = (
      (1L to 6L).map(i => (i, s"aa bb f$i g$i")) ++
      (7L to 11L).map(i => (i, s"cc dd h$i k$i")) ++
      Seq((12L, "cc x1 cc x2 cc y1 dd y2 dd y3 dd z9"))
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.pmiBigramsOn(docs).collect()
    assert(rows.nonEmpty)
    val first = rows.head
    assert(first.getString(0) == "aa bb", s"expected aa bb first, got $first")
    assert((first.getLong(1), first.getLong(2), first.getLong(3)) == ((6L, 6L, 6L)))
    // lift_ppb is the exact integer restatement everywhere
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) * 1000000000L / (r.getLong(2) * r.getLong(3)))
      assert(r.getLong(1) >= TextAnalysis.PmiMinSupport)
    }
    // descending by (lift, bigram): the report order is total
    val scores = rows.map(r => (r.getLong(4), r.getString(0)))
    assert(scores.zip(scores.tail).forall { case ((a, s1), (b, s2)) =>
      a > b || (a == b && s1 < s2) })
  }

  test("OLS sufficient statistics recover an exact linear relation per group") {
    // y = 300x + 10000 cents in group A, y = -50x + 50000 in group B:
    // the normal equations must recover both exactly (the sums are
    // exact longs; the final combine is one double expression)
    val items = (
      (1 to 40).map(q => ("A", q.toDouble, (3.0 * q + 100.0))) ++
      (1 to 40).map(q => ("B", q.toDouble, (-0.5 * q + 500.0)))
    ).toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val rows = Profiling.linregOn(items).collect()
      .map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    assert(rows("A") == ((300.0, 10000.0)), s"got ${rows("A")}")
    assert(rows("B") == ((-50.0, 50000.0)), s"got ${rows("B")}")
  }

  test("chi-squared terms rank the perfectly-separating token first") {
    // "zz" appears in every en doc and no other; "cc" appears in every
    // doc of both classes (zero association); fillers are unique per
    // doc and fall below min-df
    val docs = (
      (1 to 30).map(i => (s"cc zz en$i", "en")) ++
      (1 to 30).map(i => (s"cc de$i x$i", "de"))
    ).toDF("text", "lang")
    val rows = TextAnalysis.chi2TermsOn(docs).collect()
    val byTok = rows.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.head.getString(0) == "zz")
    // a=30 b=0 c=0 d=30 → χ² = N = 60 (perfect association)
    assert(byTok("zz") == ((30L, 0L, 60.0)))
    // present everywhere → diff = ad−bc = 0 → χ² = 0
    assert(byTok("cc") == ((30L, 30L, 0.0)))
    // min-df guard: per-doc fillers (df=1) never reach the report
    assert(rows.length == 2)
  }

  test("CDC chunks partition each doc; boundaries re-sync after a prefix edit") {
    import spark.implicits._
    // chunks partition [0, n) contiguously on real data
    val ch = Dedup.cdcChunksOn(Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("s"), r.getAs[Long]("e"), r.getAs[Long]("n_tokens")))
    ch.groupBy(_._1).foreach { case (d, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._3 == 0L, s"doc $d: first chunk must start at 0")
      assert(sorted.last._4 == sorted.head._5, s"doc $d: last chunk must end at n")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"doc $d: gap between chunks")
        case _ =>
      }
      sorted.foreach(c => assert(c._4 > c._3, s"doc $d: empty chunk"))
    }

    // re-sync: same long suffix behind DIFFERENT-length prefixes still
    // shares chunks — the property fixed-stride chunking lacks
    val suffix = (1 to 80).map(i => s"w${i % 13}x$i").mkString(" ")
    val synth = Seq(
      (1L, s"alpha $suffix"),
      (2L, s"beta gamma delta epsilon zeta $suffix"))
      .toDF("doc_id", "text")
    val rep = Dedup.cdcDedupOn(synth).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup_chunks")).toMap
    assert(rep.values.forall(_ > 0),
      s"CDC must re-synchronize on the shared suffix: $rep")

    // the report on real data stays in range and reconciles
    val rows = Dedup.cdcDedup(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup_chunks") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("n_tokens"))
      val m = r.getAs[Long]("dup_milli")
      assert(m >= 0L && m <= 1000L)
    }
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exactOn(docs, col("text"), col("doc_id"))
    val m = d.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m(1L) == 2L) // docs 1 and 2 collapse
    assert(m(3L) == 1L)
    assert(!m.contains(2L)) // dup's canonical id is the min, 1
  }

  test("LSH tuning report: more bands means more candidates, 8x2 found matches the production config") {
    val rows = Dedup.lshTuningReport(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq((8, 2), (4, 4), (2, 8)))
    // n_true is one corpus-wide constant
    assert(rows.map(_._5).distinct.length == 1)
    // recall in [0, 1000], found <= candidates, found <= true
    rows.foreach { case (_, _, cand, found, truth, recall) =>
      assert(found <= cand && found <= truth)
      assert(recall >= 0 && recall <= 1000)
      assert(recall == 1000 * found / truth)
    }
    // banding monotonicity: fewer rows per band can only add candidates
    val byBands = rows.map(t => t._1 -> (t._3, t._4)).toMap
    assert(byBands(8)._1 >= byBands(4)._1 && byBands(4)._1 >= byBands(2)._1)
    assert(byBands(8)._2 >= byBands(4)._2 && byBands(4)._2 >= byBands(2)._2)
    // the 8x2 row's found count equals the production LSH query's pairs
    val prod = Dedup.minHashLshPairs(spark, sf001).count()
    assert(byBands(8)._2 == prod)
  }

  test("minhash LSH finds exactly the exact-Jaccard pairs on sf0.001") {
    val exact = Dedup.jaccardPairs(spark, sf0001)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(spark, sf0001)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH+verify must never emit a false positive")
    assert(lsh.size >= exact.size * 8 / 10, s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("prefix-filtered exact join recovers every inverted-index pair with matching jaccard") {
    // at test scale the df cap is a no-op, so the capped inverted index
    // is itself exact — the prefix-filtered join must find the SAME
    // pair set (completeness both ways), with the ppm restatement of
    // each double jaccard
    val inv = Dedup.jaccardPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pre = Dedup.prefixJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(pre.keySet == inv.keySet,
      s"exact prefix join disagrees with the uncapped inverted index: " +
        s"only-prefix=${pre.keySet -- inv.keySet} only-inv=${inv.keySet -- pre.keySet}")
    pre.foreach { case (k, ppm) =>
      assert(math.abs(ppm - math.floor(inv(k) * 1000000)) <= 1.0,
        s"ppm mismatch at $k: $ppm vs ${inv(k)}")
    }
    // plan shape: candidates come from equi-joined prefix postings —
    // never a cartesian or nested loop over the corpus
    val p = Dedup.prefixJoin(spark, sf0001).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("positional filter keeps the prefix join exact on adversarial boundary corpora") {
    import spark.implicits._
    // random code sets over a small universe force many pairs AT the
    // τ = 1/2 boundary (where the positional bound is tight), plus
    // deliberate edge shapes: singletons, identical docs, strict
    // subsets at the 2·min ≥ max length-filter edge
    val rnd = new scala.util.Random(20260814)
    val base = (0 until 60).map { i =>
      val m = 1 + rnd.nextInt(30)
      (i.toLong, rnd.shuffle((0L until 90L).toList).take(m))
    }
    val subset = base.take(8).zipWithIndex.map { case ((_, cs), k) =>
      // exactly half the codes (rounded up): jaccard vs the base doc is
      // ⌈m/2⌉ / m ≥ 1/2 — on-threshold containment pairs
      (100L + k, cs.take((cs.size + 1) / 2))
    }
    val clones = base.slice(8, 12).zipWithIndex.map { case ((_, cs), k) =>
      (200L + k, cs)
    }
    val docs = base ++ subset ++ clones
    val sh = docs.toDF("doc_id", "codes")
    val got = Dedup.prefixJoinOn(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    val naive = (for {
      (i, ci) <- docs; (j, cj) <- docs if i < j
      inter = ci.toSet.intersect(cj.toSet).size
      un = ci.size + cj.size - inter
      if 2 * inter >= un
    } yield (i, j) -> (inter.toLong * 1000000L / un)).toMap
    assert(got == naive,
      s"only-prefix=${got.keySet -- naive.keySet} missed=${naive.keySet -- got.keySet}")
    assert(naive.nonEmpty && naive.size < docs.size * (docs.size - 1) / 2)
  }

  test("jaccard df cap: default cap is a no-op on the real corpus") {
    val sh = Tables.documents(spark, sf0001)
      .select(col("doc_id"), TextFunctions.shingleCodes(col("text"), Dedup.ShingleN).as("codes"))
      .withColumn("sz", size(col("codes")).cast("long"))
    val capped = Dedup.jaccardPairsOn(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = Dedup.jaccardPairsOn(sh, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == uncapped, "DefaultMaxShingleDf must not change testdata results")
    assert(capped.nonEmpty)
  }

  test("jaccard df cap prunes synthetic stop-shingle pairs") {
    // 4 docs whose overlap rides ENTIRELY on the boilerplate prefix
    // "x y z w": shingles per doc are {"x y z", "y z w", "z w <uniq>"},
    // so each pair has common=2, jaccard=2/4=0.5 → emitted uncapped.
    // Both shared shingles sit in all 4 docs (df=4); maxDf=3 drops the
    // posting lists → zero candidates survive.
    val boiler = Seq(
      (10L, "x y z w a1"), (11L, "x y z w b1"),
      (12L, "x y z w c1"), (13L, "x y z w d1")
    ).toDF("doc_id", "text")
    val sh = boiler
      .select(col("doc_id"), TextFunctions.shingleCodes(col("text"), Dedup.ShingleN).as("codes"))
      .withColumn("sz", size(col("codes")).cast("long"))
    assert(Dedup.jaccardPairsOn(sh, maxDf = Long.MaxValue).count() == 6L,
      "all 4-choose-2 boilerplate pairs pass the threshold uncapped")
    assert(Dedup.jaccardPairsOn(sh, maxDf = 3L).count() == 0L,
      "the df cap must drop pairs that only overlap on stop-shingles")
    // and on a mixed corpus the cap only BOUNDS jaccard from below:
    // every capped pair appears uncapped with >= jaccard
    val shMixed = docs.select(col("doc_id"), col("text")).union(boiler)
      .select(col("doc_id"), TextFunctions.shingleCodes(col("text"), Dedup.ShingleN).as("codes"))
      .withColumn("sz", size(col("codes")).cast("long"))
    val unc = Dedup.jaccardPairsOn(shMixed, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.jaccardPairsOn(shMixed, maxDf = 3L).collect()
    capped.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(unc.contains(k) && unc(k) >= r.getDouble(2) - 1e-12,
        s"capped pair $k must be a (lower-bounded) subset of uncapped")
    }
  }

  test("incremental dedup equals the symmetric search restricted to batch-corpus pairs") {
    val m = Dedup.IncrementalBatchMod
    // ground truth: the symmetric LSH pairs with exactly one batch side
    val cross = Dedup.minHashLshPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (i, j, jac) =>
        if (i % m == 0 && j % m != 0) Some((i, j, jac))
        else if (j % m == 0 && i % m != 0) Some((j, i, jac))
        else None
      }
    val want = cross.groupBy(_._1).view
      .mapValues(ps => (ps.length.toLong, ps.map(_._3).max)).toMap
    val got = Dedup.incrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (id, nDups, best, keep) =>
      assert(id % m == 0)
      assert(keep == (nDups == 0L))
      want.get(id) match {
        case Some((n, j)) => assert(nDups == n && best.contains(j), s"batch doc $id")
        case None => assert(nDups == 0L && best.isEmpty, s"batch doc $id")
      }
    }
    // every batch doc with a cross match is reported
    assert(want.keySet.subsetOf(got.map(_._1).toSet))
  }

  test("simhash pairs are near-dups by construction") {
    val pairs = Dedup.simHashPairs(spark, sf0001).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getLong(2) <= Dedup.HammingMax))
    // planted near-dups dominate: every simhash pair should also be an
    // exact-Jaccard pair at the 0.5 threshold on this corpus
    val exact = Dedup.jaccardPairs(spark, sf0001)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((sh -- exact).size <= 2, s"too many simhash-only pairs: ${sh -- exact}")
  }

  test("dup clustering assigns component-minimum canonicals (chains included)") {
    val m = Dedup.dupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.nonEmpty)
    // canonical is a member of the same cluster and is minimal
    m.foreach { case (doc, canon) =>
      assert(canon <= doc)
      assert(m(canon) == canon, s"canonical $canon of $doc must be its own canonical")
    }
    // consistency with the pair graph: both ends of every dup pair land
    // in the same cluster
    Dedup.jaccardPairs(spark, sf0001).collect().foreach { r =>
      assert(m(r.getLong(0)) == m(r.getLong(1)))
    }
  }

  test("large-star/small-star clustering equals min-label propagation on the real pair graph") {
    val pairs = Dedup.jaccardPairs(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_i"),
        org.apache.spark.sql.functions.col("doc_j"))
    val byLabel = Dedup.minLabelClustersOn(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val byStar = Dedup.starClustersOn(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(byStar.nonEmpty)
    assert(byStar == byLabel)
  }

  test("star clustering handles long chains, stars, and forests") {
    import spark.implicits._
    // a 12-node chain (diameter >> log n), a star rooted at 100, an
    // isolated pair — min-label needs ~12 rounds on the chain; the star
    // algorithm must produce identical components regardless
    val chain = (1L until 12L).map(i => (i, i + 1))
    val star = (102L to 106L).map(i => (100L, i))
    val pair = Seq((200L, 201L))
    val edges = (chain ++ star ++ pair).toDF("doc_i", "doc_j")
    val got = Dedup.starClustersOn(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 12L).foreach(i => assert(got(i) == 1L, s"chain node $i"))
    (Seq(100L) ++ (102L to 106L)).foreach(i => assert(got(i) == 100L, s"star node $i"))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size == 12 + 6 + 2)
  }

  test("embedding near-dup cosines are valid and thresholded") {
    val rows = Dedup.embeddingNearDups(spark, sf0001).collect()
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= Dedup.CosineThreshold && c <= 1.0 + 1e-9)
    }
  }

  test("char entropy: 0 on constant docs, log2(k) on uniform, bounded by distinct chars") {
    val rows = TextAnalysis.charEntropy(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, k, h) =>
      assert(h >= 0.0 && h <= math.log(k.toDouble) / math.log(2.0) + 1e-9,
        s"doc $id: H=$h outside [0, log2($k)]")
      assert(k <= n)
    }
    // constructed extremes through the operator itself
    import spark.implicits._
    val got = TextAnalysis.charEntropyOn(
        Seq((1L, "aaaaaaaa"), (2L, "abcdabcdabcd")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 0.0, "constant doc has zero entropy")
    assert(got(2L) == 2.0, "uniform 4-char doc has exactly 2 bits")
  }

  test("quality score stays in [0,1] and langId covers every doc") {
    val q = TextAnalysis.qualityScore(spark, sf0001).collect()
    q.foreach { r =>
      val s = r.getAs[Double]("quality")
      assert(s >= 0.0 && s <= 1.0, s"quality=$s")
    }
    val l = TextAnalysis.langId(spark, sf0001)
    assert(l.filter(col("predicted").isNull).count() == 0)
    assert(l.count() == TextAnalysis.tokenStats(spark, sf0001).count())
  }

  test("quality percentiles are per-lang ranks: bounded, bin-monotone, floor at 0") {
    val rows = TextAnalysis.qualityNormalized(spark, sf0001)
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, pct) => assert(pct >= 0 && pct < 1000) }
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      // strictly lower bin ⇒ no higher percentile, within each language
      val byBin = rs.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
      byBin.values.foreach(ps =>
        assert(ps.size == 1, s"$lang: same bin must share one percentile"))
      val sorted = byBin.toSeq.sortBy(_._1).map(_._2.head)
      assert(sorted == sorted.sorted, s"$lang: percentile must rise with bin")
      // the lowest bin has nothing below it
      assert(sorted.head == 0L, s"$lang: lowest bin must sit at percentile 0")
    }
  }

  test("fingerprints are stable and collision-free on distinct texts") {
    val fp = TextAnalysis.fingerprints(spark, sf0001)
    val n = fp.count()
    assert(fp.select("fp31", "fp37").distinct().count() == n)
  }

  test("cleanCorpusObserved reports per-stage drop counters in one pass") {
    val (kept, inObs, keptObs) =
      graft.operators.Pipeline.cleanCorpusObserved(spark, sf0001)
    val keptRows = kept.count() // ONE action drives both observations
    val in = inObs.get
    val out = keptObs.get
    assert(in("n_in") == Tables.documents(spark, sf0001).count())
    assert(out("n_kept") == keptRows)
    // observed drop accounting is consistent: kept ≤ in − low-quality
    assert(out("n_kept").asInstanceOf[Long] <=
      in("n_in").asInstanceOf[Long] - in("n_low_quality").asInstanceOf[Long])
    // and the aggregated pipeline sees the same survivor population
    val aggDocs = graft.operators.Pipeline.cleanCorpus(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(out("n_kept") == aggDocs)
  }

  test("shardBuild manifest: dense shard positions, no eval docs, sane sequence bounds") {
    // the driver gate hash-matches the whole chain vs DuckDB; this
    // pins the manifest invariants a trainer's loader relies on
    val rows = graft.operators.Pipeline.shardBuild(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val shard = r.getAs[Long]("shard")
      assert(shard >= 0 && shard < graft.operators.SourceHealth.NumShards)
      assert(r.getAs[Long]("n_docs") >= 1L)
      assert(r.getAs[Long]("seq_tokens") >= 1L)
      assert(r.getAs[Long]("min_doc") <= r.getAs[Long]("max_doc"))
      // eval docs (doc_id ≡ 0 mod DecontamEvalMod) must never reach a
      // training shard — the decontam stage excludes them up front
      assert(r.getAs[Long]("min_doc") % Dedup.DecontamEvalMod != 0L)
      assert(r.getAs[Long]("max_doc") % Dedup.DecontamEvalMod != 0L)
    }
    // intra-shard positions are dense 1..n — a loader can stream a
    // shard by pos with no gaps to special-case
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (1L to rs.length).toSeq)
    }
  }

  test("per-stratum reservoir keeps at most k per language, ranked by hash") {
    val rows = Curation.sampleReservoirPerLang(spark, sf0001).collect()
    val byLang = rows.groupBy(_.getString(0))
    assert(byLang.nonEmpty)
    byLang.foreach { case (_, rs) =>
      assert(rs.length <= Curation.StratumK)
      // ranks are 1..n and hash values ascend with rank
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      assert(sorted.map(_.getLong(3)).toSeq == sorted.map(_.getLong(3)).sorted.toSeq)
    }
  }

  test("BPE apply: merged symbol counts are between words and characters") {
    val applied = TextAnalysis.bpeApplyCounts(spark, sf0001)
    val base = Tables.documents(spark, sf0001).select(
      col("doc_id"),
      org.apache.spark.sql.functions.size(TextFunctions.tokens(col("text")))
        .cast("long").as("n_toks"),
      org.apache.spark.sql.functions.aggregate(TextFunctions.tokens(col("text")),
        org.apache.spark.sql.functions.lit(0L),
        (a, x) => a + org.apache.spark.sql.functions.length(x)).as("n_chars_in_toks"))
    val bad = applied.join(base, "doc_id")
      // every word is >= 1 symbol; merging can only shrink the char count
      .filter(col("n_syms") < col("n_words") || col("n_syms") > col("n_chars_in_toks") ||
        col("n_words") =!= col("n_toks"))
      .count()
    assert(bad == 0)
    // the 3 trained merges must actually merge something somewhere
    val totSyms = applied.agg(org.apache.spark.sql.functions.sum("n_syms")).head().getLong(0)
    val totChars = base.agg(org.apache.spark.sql.functions.sum("n_chars_in_toks")).head().getLong(0)
    assert(totSyms < totChars, s"no merge applied: $totSyms vs $totChars")
  }

  test("char-bigram LM scores are positive and finite, one row per multi-char doc") {
    val rows = TextAnalysis.charLmScore(spark, sf0001).collect()
    assert(rows.length ==
      Tables.documents(spark, sf0001).filter(length(col("text")) >= 2).count())
    rows.foreach { r =>
      val nll = r.getDouble(2)
      assert(nll > 0 && !nll.isInfinite && !nll.isNaN, s"bad nll $nll")
      assert(r.getLong(1) > 0)
    }
  }

  // ---------------------------------------------------------- winnowing

  /** polyHash of one span string — the scalar reference the engine's
    * SpanHashes computes per position. */
  private def refHash(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)

  /** Naive winnowing over one doc's token list: every full window of w
    * consecutive k-gram hashes selects its min-by-(hash, pos); a doc
    * shorter than one full window selects from its single partial
    * window. Returns the selected (hash, pos) set. */
  private def refWinnow(toks: Seq[String], k: Int, w: Int): Set[(Long, Long)] = {
    val hs = (0 to toks.length - k).map(j => refHash(toks.slice(j, j + k).mkString(" ")))
    if (hs.isEmpty) Set.empty
    else (0 to math.max(hs.length - w, 0)).map { s =>
      hs.slice(s, s + w).zipWithIndex
        .map { case (h, i) => (h, (s + i).toLong) }
        .minBy { case (h, p) => h * Dedup.WinnowPosEnc + p }
    }.toSet
  }

  test("property: winnowing selection matches the naive reference on random corpora") {
    // tiny alphabet → repeated k-grams, hash ties, short docs — the
    // regime where the packed-key tie rule and the partial-window arm
    // actually get exercised
    val rnd = new scala.util.Random(23)
    val alphabet = Vector("aa", "bb", "cc", "dd", "ee")
    for (trial <- 1 to 8) {
      val docs = (0L until 12L).map { id =>
        val n = rnd.nextInt(16) // includes docs shorter than k and than k+w-1
        id -> (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val expected = docs.flatMap { case (id, text) =>
        refWinnow(text.split(" ").filter(_.nonEmpty).toSeq, Dedup.WinnowK, Dedup.WinnowW)
          .map { case (h, p) => (id, h, p) }
      }.toSet
      val got = Dedup.winnowSelectedOn(docs.toDF("doc_id", "text"))
        .select("doc_id", "h", "pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"trial $trial: engine ${got.size} vs reference ${expected.size}\n" +
          s"only-engine: ${(got -- expected).take(5)}\nonly-ref: ${(expected -- got).take(5)}")
    }
  }

  test("winnow kernel: fused WinnowSelect equals the r15 window formulation on the corpus") {
    // the r16 optimization swapped the window-min + distinct plan for
    // the native kernel; this differential pins them row-identical on
    // the real corpus (including its short/empty/tie-heavy docs)
    val kernel = Dedup.winnowSelectedOn(Tables.documents(spark, sf0001))
      .select("doc_id", "key", "h", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val window = Dedup.winnowSelectedWindowOn(Tables.documents(spark, sf0001))
      .select("doc_id", "key", "h", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(kernel == window,
      s"kernel ${kernel.size} vs window ${window.size}; " +
        s"only-kernel ${(kernel -- window).take(3)}, only-window ${(window -- kernel).take(3)}")
  }

  test("property: CommonCount equals size(array_intersect) including dups and empties") {
    val rnd = new scala.util.Random(59)
    val cases = (1 to 200).map { i =>
      def arr(n: Int, hi: Int) = Seq.fill(n)(rnd.nextInt(hi).toLong)
      // mixed regimes: empty, tiny, overlapping ranges, duplicates
      (i.toLong, arr(rnd.nextInt(40), 1 + rnd.nextInt(30)),
        arr(rnd.nextInt(40), 1 + rnd.nextInt(30)))
    } :+ ((0L, Seq.empty[Long], Seq(1L, 2L, 3L)))
    val df = cases.toDF("id", "a", "b")
      .withColumn("native", TextFunctions.commonCount(col("a"), col("b")))
      .withColumn("builtin", size(array_intersect(col("a"), col("b"))).cast("long"))
    val bad = df.filter(col("native") =!= col("builtin")).collect()
    assert(bad.isEmpty, s"CommonCount mismatches: ${bad.take(5).mkString("; ")}")
  }

  test("winnowing guarantee: a shared run of k+w-1 tokens always yields a shared fingerprint") {
    // t = k + w - 1 = 6 shared tokens embedded in disjoint contexts
    val shared = "s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (1L, s"p1 p2 p3 $shared p4 p5"),
      (2L, s"q1 $shared q2 q3 q4 q5"),
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 r9")).toDF("doc_id", "text")
    val sel = Dedup.winnowSelectedOn(docs).select("doc_id", "h").distinct()
    val byDoc = sel.collect().groupBy(_.getLong(0)).map { case (d, rs) =>
      d -> rs.map(_.getLong(1)).toSet
    }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared 6-token run missed")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint doc matched")
  }

  test("winnowing density: selected count per doc is within the window-start bound") {
    val fp = Dedup.winnowFingerprints(spark, sf0001).collect()
    assert(fp.nonEmpty)
    fp.foreach { r =>
      val (nSpans, nFp) = (r.getLong(1), r.getLong(2))
      assert(nFp >= 1 && nFp <= math.max(nSpans - Dedup.WinnowW, 0L) + 1,
        s"doc ${r.getLong(0)}: $nFp fingerprints from $nSpans spans")
      assert(r.getLong(4) == nFp * 1000 / nSpans)
    }
  }

  test("winnow incremental: persisted probe equals the recompute twin, dup claims exact-verified") {
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]).map(d => math.rint(d * 1e9)),
        r.getBoolean(3))
    }.toSet
    val rec = canon(Dedup.incrementalWinnowDedup(spark, sf0001).collect())
    val per = canon(Dedup.incrementalWinnowDedupPersisted(spark, sf0001).collect())
    assert(rec == per,
      s"persisted != recompute\nonly-rec: ${(rec -- per).take(3)}\nonly-per: ${(per -- rec).take(3)}")
    // every dup claim is a subset of the brute-force exact verdicts
    // (winnowing may only MISS candidates, never invent pairs)
    val sh = Dedup.shingledOn(Tables.documents(spark, sf0001))
      .filter(col("sz") > 0)
    val isBatch = col("doc_id") % Dedup.IncrementalBatchMod === 0
    val exact = sh.filter(isBatch)
      .select(col("doc_id").as("batch_id"), col("codes").as("ci"), col("sz").as("szi"))
      .crossJoin(sh.filter(!isBatch)
        .select(col("codes").as("cj"), col("sz").as("szj")))
      .withColumn("common", size(array_intersect(col("ci"), col("cj"))).cast("long"))
      .filter(col("common") / (col("szi") + col("szj") - col("common")) >= Dedup.JaccardThreshold)
      .groupBy("batch_id").agg(count(lit(1)).as("n_exact"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rec.foreach { case (id, nDups, best, keep) =>
      assert(keep == (nDups == 0L))
      if (nDups > 0) {
        assert(exact.getOrElse(id, 0L) >= nDups,
          s"doc $id claims $nDups dups, exact has ${exact.get(id)}")
        assert(best.exists(_ >= math.rint(Dedup.JaccardThreshold * 1e9)))
      }
    }
  }

  test("method agreement: every leg is a verified subset of the exact baseline, winnowing included") {
    val rows = Dedup.methodAgreement(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("jaccard_capped", "minhash_lsh", "winnow_verified"))
    rows.foreach { r =>
      val (np, nh, ne) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every method verifies candidates at the exact threshold →
      // precision 1 by construction: pairs found = pairs in baseline
      assert(nh == np, s"${r.getString(0)}: $np pairs but only $nh in baseline")
      assert(nh <= ne && r.getLong(4) == (if (ne > 0) nh * 1000 / ne else 0L))
    }
    // the winnow leg verifies by membership in the PPJoin frame, so the
    // counts above cannot see PPJoin drift: re-score in plain Scala
    // from the shingle code sets, independently of every pair finder
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val codes = Dedup.shingledOn(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def jaccard(p: (Long, Long)): Double = {
      val (a, b) = (codes(p._1), codes(p._2))
      val common = a.count(b)
      common.toDouble / (a.size + b.size - common)
    }
    val tau = Dedup.JaccardThreshold
    val pairs = Dedup.jaccardPairs(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs.nonEmpty)
    pairs.foreach(p => assert(jaccard(p) >= tau, s"pair $p scores ${jaccard(p)} < $tau"))
    val hs = Dedup.winnowSelectedOn(docs).select(col("doc_id"), col("h")).distinct()
    val cand = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val missed = cand.filterNot(pairs).sorted.take(500)
    assert(missed.nonEmpty, "no sub-threshold winnow candidates to check")
    missed.foreach(p => assert(jaccard(p) < tau, s"candidate $p scores ${jaccard(p)} >= $tau"))
    val winnowPairs = rows.find(_.getString(0) == "winnow_verified").get.getLong(1)
    assert(winnowPairs == cand.count(jaccard(_) >= tau),
      "winnow leg must equal the candidates whose re-scored jaccard clears tau")
  }

  test("winnow pairs find the planted near-dups and score set-jaccard exactly") {
    val rows = Dedup.winnowPairs(spark, sf0001).collect()
    assert(rows.nonEmpty, "no winnow pairs on the planted-dup corpus")
    rows.foreach { r =>
      val (sh, na, nb, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(sh >= 2 && sh <= math.min(na, nb))
      assert(j == sh * 1000 / (na + nb - sh))
    }
    // exact dups (identical fingerprint sets) must surface as a
    // full-overlap pair
    val hasExactDup =
      Dedup.exact(spark, sf0001).filter(col("n_copies") > 1).count() > 0
    if (hasExactDup)
      assert(rows.exists(r => r.getLong(5) == 1000), "no full-overlap pair found")
  }

  test("source overlap: pair counts conserve the jaccard pair frame, keys are canonical") {
    val pairs = Dedup.jaccardPairs(spark, sf0001).count()
    val rows = Dedup.sourceOverlap(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == pairs,
      "every near-dup pair must be attributed to exactly one source pair")
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"),
        "source pair must be unordered-canonical")
      val mj = r.getAs[Double]("max_jaccard")
      assert(mj >= Dedup.JaccardThreshold && mj <= 1.0)
    }
  }
}
