package graft

import org.apache.spark.sql.functions._

class TextSentimentSpec extends GraftSuite {

  test("sentiment labels respect the ±0.05 thresholds") {
    import spark.implicits._
    val rows = run("sent_lexicon").collect()
    assert(rows.length === Tables.documents(spark, sfDir).count())
    assert(rows.forall { r =>
      val s = r.getAs[Double]("score")
      r.getAs[String]("label") match {
        case "positive" => s > 0.05
        case "negative" => s < -0.05
        case "neutral"  => s >= -0.05 - 1e-9 && s <= 0.05 + 1e-9
      }
    })
  }

  test("VADER caps/punctuation emphasis: planted docs match hand-computed scores") {
    // r13 verdict item 5: ALL-CAPS emphasis (C_INCR 0.733, gated on the
    // caps DIFFERENTIAL — a fully-shouted text gets none) and '!'/'?'
    // amplification (0.292 per '!' ≤4; 0.18 per '?' for 2-3, 0.96 cap)
    // are published VADER behaviors. The synthetic corpus carries no
    // caps or punctuation, so these paths need planting: a documents
    // table with cased/punctuated texts, run through the REAL
    // sent_lexicon query, against exact hand-computed integer sums.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vader").toString
    Seq(
      (1L, "this is GOOD news"), // caps diff → 19·1e4 + 73300
      (2L, "GOOD NEWS EVERYONE TODAY"), // ALL caps → no differential, base only
      (3L, "not GOOD"), // (base + caps) × −0.74, exact
      (4L, "very GOOD"), // caps then booster, both sign-aligned
      (5L, "good news !!!"), // 3 '!' → +3·29200 on a positive sum
      (6L, "bad day ????"), // >3 '?' → the 96000 cap on a negative sum
      (7L, "terrible!!!") // attached punctuation: token unmatched, sum 0, emph unapplied
    ).map { case (id, t) => (id, t, "en", "plant", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("sent_lexicon").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("score"), r.getAs[String]("label"))).toMap
    val expSc = Map( // exact 1e11-scaled integer sums, by the VADER rules
      1L -> 263300000000L, // 19e10 + 7.33e10
      2L -> 190000000000L,
      3L -> -194842000000L, // 263300000000 · −74 / 100
      4L -> 292600000000L, // 19e10 + 7.33e10 + 2.93e10 (booster at offset 1: undamped)
      5L -> 277600000000L, // 19e10 + 3·2.92e10
      6L -> -346000000000L, // −25e10 − 9.6e10
      7L -> 0L)
    def compound(sc: Long): Double = {
      val sv = sc / 1e11
      val c = sv / math.sqrt(sv * sv + 15.0)
      math.floor(c * 1e6 + 0.5) / 1e6
    }
    expSc.foreach { case (id, sc) =>
      assert(got(id)._1 === compound(sc), s"doc $id: ${got(id)._1} vs sc=$sc")
    }
    assert(got(3L)._2 === "negative")
    assert(got(7L)._2 === "neutral")
    // the differential matters: mixed-case doc 1 outscored the shouted doc 2
    assert(got(1L)._1 > got(2L)._1)
  }

  test("VADER but-clause and degree modifiers: planted docs match hand-computed scores") {
    // r14 verdict item 2: the but-clause (valences before the first
    // 'but' halve, after ×1.5 — VADER's _but_check) and the multi-word
    // degree modifiers ("kind of", "sort of" → −B_INCR toward zero) are
    // published VADER rules. Planted docs through the REAL sent_lexicon
    // query against exact hand-computed integer sums.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vader_but").toString
    Seq(
      // bi at pos 3: slow −19000000/2; fast 19000000·3/2
      (1L, "slow day but fast ending"),
      // kind scores itself (24000000); good dampened by the "kind of"
      // bigram at offset 1 (undamped): 19000000 − 2930000 = 16070000
      (2L, "kind of good today"),
      // caps diff + BOOSTER-word caps bonus at offset 1:
      // 19000000 + 7330000 + (2930000 + 7330000) = 36590000
      (3L, "VERY GOOD day"),
      // negated bigram-dampened: kind 24000000·−74/100 = −17760000;
      // good (19000000 − 2930000)·−74/100 = −11891800
      (4L, "not kind of good"),
      // real 'but': good /2 = 9500000; bad −25000000·3/2 = −37500000
      (5L, "good times but bad news"),
      // single dampener at offset 1: 19000000 − 2930000 = 16070000
      (6L, "slightly good"),
      // r15 distance damping: booster at offset 2 → B_INCR·0.95:
      // 19000000 + 2783500 = 21783500
      (7L, "very day good"),
      // dampener at offset 3 → B_INCR·0.9: 19000000 − 2637000
      (8L, "slightly day day good"),
      // damped booster THEN negated: 21783500·−74/100 = −16119790
      (9L, "not very day good")
    ).map { case (id, t) => (id, t, "en", "plant", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("sent_lexicon").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val expSc = Map( // exact 1e11-scaled integer sums
      1L -> 190000000000L,  // −9.5e10 + 28.5e10
      2L -> 400700000000L,  // 24e10 + 16.07e10
      3L -> 365900000000L,
      4L -> -296518000000L, // −17.76e10 − 11.8918e10
      5L -> -280000000000L, // 9.5e10 − 37.5e10
      6L -> 160700000000L,
      7L -> 217835000000L,
      8L -> 163630000000L,  // 19e10 − 2.637e10
      9L -> -161197900000L)
    def compound(sc: Long): Double = {
      val sv = sc / 1e11
      val c = sv / math.sqrt(sv * sv + 15.0)
      math.floor(c * 1e6 + 0.5) / 1e6
    }
    expSc.foreach { case (id, sc) =>
      assert(got(id) === compound(sc), s"doc $id: ${got(id)} vs sc=$sc")
    }
  }

  test("VADER negation cascade, dampener caps flip and negation idioms: planted docs match hand-computed scores") {
    // r16 (r15 verdict item 2): the per-position negation cascade
    // (vaderSentiment's sentiment_valence applies _negation_check
    // INSIDE each lookback step, so each negator multiplies separately
    // and a modifier behind a negation sees the flipped running sign),
    // the dampener-word ALL-CAPS flip (scalar_inc_dec adds C_INCR to
    // the B_DECR magnitude: −0.293+0.733 = +0.44 net boost), and the
    // never-so/this ×1.25 / without-doubt pass idioms. Planted docs
    // through the REAL sent_lexicon query against exact hand-computed
    // 1e11-scale integer sums.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vader_casc").toString
    Seq(
      // cascade ORDER: negation at o=1 flips the sign BEFORE the o=2
      // booster aligns to it: (19e10·−0.74) − 2.93e10·0.95
      (1L, "very not good"),
      // two negators = two separate multiplies: 19e10·(−0.74)²
      (2L, "not not good"),
      // dampener caps FLIP: vv>0, ALL-CAPS dampener at o=1 adds
      // (−B+C)·1 = +4.4e10
      (3L, "SLIGHTLY good news"),
      // never-so idiom: booster 'so' at o=1, then ×5/4 at o=2 (never
      // negates nothing): (19e10 + 2.93e10)·5/4
      (4L, "never so good"),
      // without-doubt idiom: 'good' passes unmodified at o=2 ('doubt'
      // at o=1 is a LEXICON entry −1.5, so the membership gate skips
      // that step — observably); 'doubt' itself scores and is negated
      // by 'without' at its own o=1
      (5L, "without doubt good"),
      // 'without' with no 'doubt' neighbor still negates at o=2
      (6L, "without day good"),
      // corpus stand-in idiom (order=never, agg=so/this): the branch
      // the synthetic-corpus oracle exercises
      (7L, "order agg fast"),
      // o=3 idiom: never at i-3, 'so' at i-2: (19e10 + 2.93e10·0.95)·5/4
      (8L, "never so day good"),
      // cascade at caps: negate at o=1, CAPS booster at o=2 on the now
      // NEGATIVE value subtracts (B+C)·0.95: 19e10·−0.74 − 9.747e10
      (9L, "VERY not good news"),
      // _least_check (r16): "least X" dampens by N_SCALAR...
      (10L, "least good"),
      // ...unless preceded by "at"
      (11L, "at least good"),
      // ...or "very" (whose booster still applies at offset 2)
      (12L, "very least good"),
      // corpus stand-in least word (the branch the oracle exercises)
      (13L, "column fast"),
      // vaderSentiment's o=3 precedence QUIRK (r16 review): the actual
      // analyzer parses `never@i-3 and so/this@i-2 or so/this@i-1` as
      // (A and B) or C — "so" directly before the word fires ×1.25 and
      // SKIPS the negation even though i-3 is "not": boosters at o=1/o=2
      // then ×5/4, never ×−0.74
      (14L, "not very so good")
    ).map { case (id, t) => (id, t, "en", "plant", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("sent_lexicon").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val expSc = Map(
      1L -> -168435000000L, // −140600000000 − 27835000000
      2L -> 104044000000L,  // −140600000000 · −74 / 100
      3L -> 234000000000L,  // 190000000000 + 44000000000
      4L -> 274125000000L,  // 219300000000 · 5 / 4
      5L -> 301000000000L,  // doubt −15e10·−0.74 = +111000000000; good 19e10
      6L -> -140600000000L,
      7L -> 237500000000L,  // fast 19e10·5/4 (agg: no scalar, order: idiom)
      8L -> 272293750000L,  // (19e10 + 27835000000) = 217835000000 ·5/4
      9L -> -238070000000L, // −140600000000 − 97470000000
      10L -> -140600000000L, // 19e10 · −74/100
      11L -> 190000000000L,
      12L -> 217835000000L,  // 19e10 + 2.7835e10 (booster at o=2), no multiply
      13L -> -140600000000L, // fast 19e10 · −74/100 via the stand-in
      14L -> 308918750000L)  // (19e10 + 2.93e10 + 2.7835e10) · 5/4
    def compound(sc: Long): Double = {
      val sv = sc / 1e11
      val c = sv / math.sqrt(sv * sv + 15.0)
      math.floor(c * 1e6 + 0.5) / 1e6
    }
    expSc.foreach { case (id, sc) =>
      assert(got(id) === compound(sc), s"doc $id: ${got(id)} vs sc=$sc")
    }
  }

  test("sentiment distribution shares sum to 1") {
    val share = run("sent_distribution").agg(sum("share")).head().getDouble(0)
    assert(math.abs(share - 1.0) < 1e-4)
  }

  test("agreement matrix covers the whole corpus") {
    val n = run("sent_agreement").agg(sum("n")).head().getLong(0)
    assert(n === Tables.documents(spark, sfDir).count())
  }

  test("sentiment examples: ≤3 per label, labels respect thresholds, strongest first") {
    val rows = run("sent_examples").collect()
    val byLabel = rows.groupBy(_.getAs[String]("label"))
    assert(byLabel.keySet.subsetOf(Set("positive", "negative", "neutral")))
    byLabel.foreach { case (l, rs) =>
      assert(rs.length <= 3, s"label $l returned ${rs.length} examples")
      rs.foreach { r =>
        val s = r.getAs[Double]("score")
        l match {
          case "positive" => assert(s > 0.05)
          case "negative" => assert(s < -0.05)
          case "neutral"  => assert(s >= -0.05 - 1e-9 && s <= 0.05 + 1e-9)
        }
        assert(r.getAs[String]("snippet").length <= 60)
      }
    }
    // each label's picks are the strongest |score| exemplars: no other
    // doc of that label scores strictly higher than the weakest pick
    val full = run("sent_lexicon").collect()
      .groupBy(_.getAs[String]("label"))
      .view.mapValues(_.map(r => math.abs(r.getAs[Double]("score")))).toMap
    byLabel.foreach { case (l, rs) =>
      if (rs.length == 3) {
        val weakest = rs.map(r => math.abs(r.getAs[Double]("score"))).min
        val better = full(l).count(_ > weakest)
        assert(better < 3, s"label $l: $better docs beat the weakest pick")
      }
    }
  }

  test("language id predicts a known language for every doc") {
    val langs = functions.TextFns.LangMarkers.keySet
    val rows = run("tx_lang_id").collect()
    assert(rows.length === Tables.documents(spark, sfDir).count())
    assert(rows.forall(r => langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("quality score is bounded by construction") {
    val rows = run("tx_quality").collect()
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality"); q >= 0.0 && q <= 1.0 + 1e-9
    })
  }

  test("token counts agree with whitespace splitting on this corpus") {
    // corpus is single-space separated words, so both counters coincide
    assert(run("tx_token_count").filter(col("ws_tokens") =!= col("word_tokens")).count() === 0)
  }

  test("fingerprints are 32-hex md5 strings") {
    val rows = run("tx_fingerprint").collect()
    assert(rows.forall(_.getAs[String]("doc_md5").matches("[0-9a-f]{32}")))
    assert(rows.forall(_.getAs[String]("min_shingle_md5").matches("[0-9a-f]{32}")))
  }

  test("native expressions: cosine and hamming ground truths") {
    val r = spark.sql(
      """SELECT
        |  graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS same,
        |  graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(0.0, 1.0) AS ARRAY<FLOAT>)) AS ortho,
        |  graft_hamming(CAST(5 AS BIGINT), CAST(4 AS BIGINT)) AS ham
        |""".stripMargin).head()
    assert(math.abs(r.getAs[Double]("same") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("ortho")) < 1e-12)
    assert(r.getAs[Int]("ham") === 1)
  }

  test("pii scrub detects and redacts planted spans (corpus itself is clean)") {
    import spark.implicits._
    // the synthetic corpus carries no PII-shaped spans, so the oracle row
    // match alone cannot discriminate a broken regex — plant known spans
    // in a temp documents table and assert exact counts through the SAME
    // query code path
    val tmp = java.nio.file.Files.createTempDirectory("graft_pii").toString
    Seq(
      (1L, "mail me at alice.smith+x@example.co.uk today", "en", "s1", 40),
      (2L, "see https://spark.apache.org/docs and http://a.b/c", "en", "s1", 50),
      (3L, "call +1 (555) 123-4567 or 555 867 5309 now", "en", "s2", 42),
      (4L, "nothing sensitive here at all", "en", "s2", 29))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.TextAnalysis.piiScrub.run(spark, tmp)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rows("s1").getAs[Long]("emails") === 1L)
    assert(rows("s1").getAs[Long]("urls") === 2L)
    assert(rows("s1").getAs[Long]("docs_with_pii") === 2L)
    assert(rows("s2").getAs[Long]("digit_runs") === 2L)
    assert(rows("s2").getAs[Long]("docs_with_pii") === 1L)
    // redaction removes more characters than it inserts for these spans
    assert(rows("s1").getAs[Long]("redacted_chars") > 0L)
    assert(rows("s2").getAs[Long]("redacted_chars") > 0L)
    // corpus-wide: the real table is clean AND the query says so
    val real = run("tx_pii_scrub").collect()
    assert(real.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sfDir).count())
  }

  test("boilerplate flags exactly the planted cross-doc chunk") {
    import spark.implicits._
    val K = operators.TextAnalysis.BoilerChunk
    // a shared 8-token header (the planted boilerplate), then distinct
    // tails long enough for a second, non-shared chunk per doc
    val header = (1 to K).map(i => s"h$i").mkString(" ")
    def tail(tag: String) = (1 to K).map(i => s"$tag$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    Seq(
      (1L, s"$header ${tail("a")}", "en", "s1", 10),
      (2L, s"$header ${tail("b")}", "en", "s1", 10),
      (3L, s"${tail("c")} ${tail("d")}", "en", "s2", 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.TextAnalysis.boilerplate.run(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // docs 1 and 2: header chunk shared (flagged), tail chunk unique
    for (d <- Seq(1L, 2L)) {
      assert(rows(d).getAs[Long]("n_chunks") === 2L)
      assert(rows(d).getAs[Long]("n_boiler") === 1L)
      assert(rows(d).getAs[Double]("boiler_ratio") === 0.5)
    }
    // doc 3: both chunks unique to it
    assert(rows(3L).getAs[Long]("n_boiler") === 0L)
    // real corpus: the injected duplicate docs make the report non-trivial
    val real = run("tx_boilerplate")
    assert(real.agg(org.apache.spark.sql.functions.sum($"n_boiler"))
      .head.getLong(0) > 0L)
  }

  test("lm score: add-one bigram probabilities verified on a tiny corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm").toString
    // corpus: "a b", "a b", "a c" -> V = 3 (a, b, c)
    // c(a b)=2, c(a c)=1, c(a .)=3
    Seq(
      (1L, "a b", "en", "s1", 3),
      (2L, "a b", "en", "s1", 3),
      (3L, "a c", "en", "s1", 3),
      (4L, "a", "en", "s1", 1)) // single token: no bigrams, absent from output
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.TextAnalysis.lmScore.run(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet === Set(1L, 2L, 3L))
    def pr(cb: Long, cw: Long, v: Long): Double =
      math.floor((cb + 1).toDouble / (cw + v) * 1e9 + 0.5) / 1e9
    // "a b": p = (2+1)/(3+3) = 0.5; "a c": p = (1+1)/(3+3) = 1/3
    assert(rows(1L).getAs[Double]("lm_score") === 0.5)
    assert(rows(2L).getAs[Double]("lm_score") === 0.5)
    val exp3 = math.floor(pr(1, 3, 3) * 1e6 + 0.5) / 1e6
    assert(rows(3L).getAs[Double]("lm_score") === exp3)
    assert(rows(1L).getAs[Long]("n_bigrams") === 1L)
    // real corpus: scores are valid probabilities, repeated docs score high
    val real = run("tx_lm_score").collect()
    assert(real.nonEmpty)
    assert(real.forall { r =>
      val p = r.getAs[Double]("lm_score"); p > 0.0 && p <= 1.0
    })
  }

  test("langid confusion: cells re-total the corpus and the diagonal is tx_lang_id's accuracy") {
    val cells = run("tx_langid_confusion").collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(cells.map(_.getAs[Long]("n")).sum === nDocs)
    val diag = cells.filter(r => r.getAs[String]("actual") == r.getAs[String]("predicted"))
      .map(_.getAs[Long]("n")).sum
    val correct = run("tx_lang_id").collect().count(_.getAs[Boolean]("correct"))
    assert(diag === correct.toLong, "confusion diagonal must equal tx_lang_id verdicts")
    val acc = cells.head.getAs[Double]("accuracy")
    assert(math.abs(acc - diag.toDouble / nDocs) < 1e-6)
    // row shares sum to 1 per actual language
    cells.groupBy(_.getAs[String]("actual")).values.foreach { rs =>
      assert(math.abs(rs.map(_.getAs[Double]("row_share")).sum - 1.0) < 1e-4)
    }
  }

  test("gopher rules: planted violators trip exactly their rule (corpus is symbol-clean)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    val good = ("the data table is a fast scan " * 4).trim // 28 words, stopwords, clean
    Seq(
      (1L, good, "en", "s1", good.length),
      (2L, "too short", "en", "s1", 9),                         // wc rule
      (3L, ("#### ... #### ... " * 8).trim + " " + good, "en", "s1", 200), // symbol rule
      (4L, ("zz " * 30).trim, "en", "s1", 90),                  // no stopwords
      (5L, ("123 456 " * 16).trim, "en", "s1", 128))            // alpha rule
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.TextAnalysis.gopherRules.run(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("pass"), "clean doc must pass every rule")
    assert(!rows(2L).getAs[Boolean]("wc_ok") && !rows(2L).getAs[Boolean]("pass"))
    assert(!rows(3L).getAs[Boolean]("sym_ok") && !rows(3L).getAs[Boolean]("pass"))
    assert(!rows(4L).getAs[Boolean]("stop_ok") && !rows(4L).getAs[Boolean]("pass"))
    assert(!rows(5L).getAs[Boolean]("alpha_ok") && !rows(5L).getAs[Boolean]("pass"))
    // real corpus: symbol/alpha rules trivially clean, pass = AND of flags
    run("tx_gopher_rules").collect().foreach { r =>
      assert(r.getAs[Boolean]("sym_ok") && r.getAs[Boolean]("alpha_ok"))
      assert(r.getAs[Boolean]("pass") ===
        (r.getAs[Boolean]("wc_ok") && r.getAs[Boolean]("mwl_ok")
          && r.getAs[Boolean]("stop_ok")))
    }
  }

  test("char diversity: degenerate and all-distinct docs hit the extreme buckets") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdiv").toString
    // "aaaa": coll = 4·3 = den -> diversity 0, bucket 400 (char-run spam)
    // "abcd": coll = 0 -> diversity 1, bucket 0 (all chars distinct)
    // "aabb": coll = 2+2 = 4, den = 12 -> diversity 2/3, bucket 133
    val docs = Seq((1L, "aaaa"), (2L, "abcd"), (3L, "aabb"))
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.TextAnalysis.charDiversity.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("avg_diversity")))).toMap
    assert(got.keySet === Set(0L, 133L, 400L))
    assert(got(0L) === ((1L, 1.0)))
    assert(got(400L) === ((1L, 0.0)))
    assert(got(133L)._1 === 1L)
    assert(math.abs(got(133L)._2 - 2.0 / 3) < 1e-6)
    // real corpus: diversity in (0, 1], buckets strictly below the
    // degenerate ceiling (natural text never collides like char runs)
    run("tx_char_diversity").collect().foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0L && r.getAs[Long]("bucket") < 100L)
      val d = r.getAs[Double]("avg_diversity")
      assert(d > 0.8 && d <= 1.0)
    }
  }

  test("sent_lexicon_sens: planted tier-2 docs at the compound threshold flip in the right cells") {
    // The corpus gate reports 0 tier-2 hits (the tier-2 English
    // vocabulary never occurs in the synthetic corpus — n_t2_hits makes
    // that measured, not silent). This plants docs whose compound sits
    // exactly at the ±0.05 threshold so a ±0.1 tier-2 perturbation
    // ('active' = 1.4) flips them: Σtenths = 2 → compound 0.0516
    // (positive) vs Σ = 1 → 0.0258 (neutral).
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ssens").toString
    Seq(
      // Σ = 14 − 11 − 21 + 8 + 12 = 2 → positive; down (active→1.3):
      // Σ = 1 → neutral; up: Σ = 3 → positive
      (1L, "active big dup key small"),
      // Σ = 14 − 21 + 8 = 1 → neutral; down: Σ = 0 → neutral;
      // up: Σ = 2 → positive
      (2L, "active dup key"),
      // no tier-2 token: stable positive in both directions
      (3L, "fast fast")
    ).map { case (id, t) => (id, t, "en", "plant", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Registry.byName("sent_lexicon_sens").run(spark, tmp).collect()
      .map(r => (r.getAs[String]("direction"), r.getAs[String]("base_label"),
        r.getAs[String]("new_label")) -> r.getAs[Long]("n_docs")).toMap
    assert(got === Map(
      ("down_0.1", "neutral", "neutral") -> 1L,
      ("down_0.1", "positive", "neutral") -> 1L,
      ("down_0.1", "positive", "positive") -> 1L,
      ("up_0.1", "neutral", "positive") -> 1L,
      ("up_0.1", "positive", "positive") -> 2L), s"cells: $got")
    // occupancy: one 'active' in each of the two tier-2 docs
    val hits = Registry.byName("sent_lexicon_sens").run(spark, tmp)
      .select("n_t2_hits").head().getLong(0)
    assert(hits === 2L)
  }

  test("sent drift: a planted batch share-swing is measured exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdrift").toString
    // base (ids < 450): 3 positive, 1 negative; batch (ids >= 450):
    // 1 positive, 3 negative — a sign flip the monitor must quantify.
    // 'love'/'hate' are graded VADER entries; repetition keeps |compound|
    // past the 0.05 neutral band.
    val pos = "love love love this great thing"
    val neg = "hate hate hate this bad thing"
    val docs = Seq(
      (1L, pos), (2L, pos), (3L, pos), (4L, neg),
      (450L, pos), (451L, neg), (452L, neg), (453L, neg))
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.Sentiment.drift.run(spark, tmp).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    assert(got("positive").getAs[Long]("n_base") === 3L)
    assert(got("positive").getAs[Long]("n_batch") === 1L)
    assert(got("negative").getAs[Long]("n_base") === 1L)
    assert(got("negative").getAs[Long]("n_batch") === 3L)
    assert(got("positive").getAs[Double]("share_delta") === 0.5) // 0.75 -> 0.25
    assert(got("negative").getAs[Double]("share_delta") === 0.5)
    // shares on each side total 1 over the emitted labels
    assert(got.values.map(_.getAs[Double]("share_base")).sum === 1.0)
    assert(got.values.map(_.getAs[Double]("share_batch")).sum === 1.0)
  }

  test("tx_bpe_encode: hand-computed merges — run greedy, multi-site apply, lexicographic ties") {
    import spark.implicits._
    // planted vocab: aaaa(2) exercises greedy left-to-right on an equal-
    // symbol run; banana(2)/bani(1) exercise multi-site application; the
    // 4th round plants a THREE-way count tie resolved lexicographically
    val vf = Seq(("aaaa", 2L), ("banana", 2L), ("bani", 1L)).toDF("word", "freq")
    def segOf(m: Int): Map[String, Seq[String]] =
      operators.TextAnalysis.bpeSeg(vf, m).collect()
        .groupBy(_.getAs[String]("word"))
        .map { case (w, rs) =>
          w -> rs.sortBy(_.getAs[Long]("pos")).map(_.getAs[String]("sym")).toSeq }
    // round 1: (a,a) wins (count 6 = 3 adjacent positions x freq 2);
    // greedy pairs the run left-to-right -> [aa, aa], never [a, aa, a]
    assert(segOf(1) === Map(
      "aaaa" -> Seq("aa", "aa"),
      "banana" -> Seq("b", "a", "n", "a", "n", "a"),
      "bani" -> Seq("b", "a", "n", "i")))
    // round 2: (a,n) wins (count 5), applied at BOTH banana sites
    val s2 = segOf(2)
    assert(s2("banana") === Seq("b", "an", "an", "a"))
    assert(s2("bani") === Seq("b", "an", "i"))
    // round 3: (b,an) wins (count 3)
    assert(segOf(3)("banana") === Seq("ban", "an", "a"))
    // round 4: (aa,aa), (an,a), (ban,an) all count 2 — the tie-break
    // must pick the lexicographically smallest pair (aa,aa)
    val s4 = segOf(4)
    assert(s4("aaaa") === Seq("aaaa"))
    assert(s4("banana") === Seq("ban", "an", "a"))
    assert(s4("bani") === Seq("ban", "i"))
    // corpus query invariants: >= 1 subword per whitespace token, and
    // the ratio column is exactly the half-up-rounded quotient
    val rows = run("tx_bpe_encode").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, sw) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_subwords"))
      assert(sw >= t, s"merges cannot go below one subword per token: $r")
      if (t > 0) assert(r.getAs[Double]("subword_ratio") ===
        math.floor(sw.toDouble / t * 1e6 + 0.5) / 1e6)
    }
  }

  /** word → symbols of a (word, pos, sym) segmentation. */
  private def segMap(seg: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
    seg.collect().groupBy(_.getAs[String]("word"))
      .map { case (w, rs) =>
        w -> rs.sortBy(_.getAs[Long]("pos")).map(_.getAs[String]("sym")).toSeq }

  test("BPE learner edges: UTF-8 tie order, exhausted pairs, empty vocab, taps equal separate runs") {
    import spark.implicits._
    import operators.TextAnalysis.{bpeSeg, bpeSegTaps}
    // (a,～) and (a,😀) tie at count 1. UTF-8 orders U+FF5E (EF BD 9E)
    // before U+1F600 (F0 9F 98 80); UTF-16 orders them the other way
    // (FF5E vs the D83D surrogate). Symbols split by code point, so 😀
    // is one symbol, not two surrogates.
    val tie = Seq(("a～", 1L), ("a😀", 1L)).toDF("word", "freq")
    assert(segMap(bpeSeg(tie, 1)) === Map(
      "a～" -> Seq("a～"), "a😀" -> Seq("a", "😀")))
    assert(segMap(bpeSeg(tie, 3)) === Map(
      "a～" -> Seq("a～"), "a😀" -> Seq("a😀")))
    // one pair in the vocabulary: rounds 2 and 3 find no pair and are
    // no-ops; single-character words pass through
    val short = Seq(("ab", 1L), ("c", 3L), ("d", 1L)).toDF("word", "freq")
    assert(segMap(bpeSeg(short, 3)) === Map(
      "ab" -> Seq("ab"), "c" -> Seq("c"), "d" -> Seq("d")))
    // an empty vocabulary learns nothing and segments nothing
    val empty = Seq.empty[(String, Long)].toDF("word", "freq")
    assert(bpeSeg(empty, 4).count() === 0L)
    // taps off one chain equal separate runs at each depth
    val vf = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    val taps = bpeSegTaps(vf, Seq(2, 4, 8))
    for (r <- Seq(2, 4, 8))
      assert(segMap(taps(r)) === segMap(bpeSeg(vf, r)), s"tap $r")
    assert(segMap(taps(2)) !== segMap(taps(8)))
  }

  test("BPE learner: BpeTaps.max merges start at most two Spark jobs") {
    import spark.implicits._
    import operators.TextAnalysis.{BpeTaps, bpeSegTaps}
    // the vocabulary is collected once and every merge round runs in
    // driver memory, so the job count does not grow with the rounds.
    val vf = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    val (taps, rec) =
      Run.measure(spark)(bpeSegTaps(vf, Seq(BpeTaps.max - 1, BpeTaps.max)))(identity)
    assert(rec.jobs >= 1 && rec.jobs <= 2,
      s"learning ${BpeTaps.max} merges started ${rec.jobs} jobs")
    // the last round really merged: the corpus has pairs left at depth 32
    assert(segMap(taps(BpeTaps.max - 1)) !== segMap(taps(BpeTaps.max)))
  }

  test("tx_bpe_encode: no persisted RDD outgrows the document count") {
    // BPE state stays at vocabulary or document grain: after a forced
    // tx_bpe_encode every RDD it left persisted (the vocabulary and the
    // per-doc mass memos) holds at most one row per document — a
    // checkpointed corpus token stream would hold tens of rows per doc
    val dir = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val sc = spark.sparkContext
    MatStore.clear(spark)
    val before = sc.getPersistentRDDs.keySet
    try {
      Registry.byName("tx_bpe_encode").run(spark, dir).collect()
      val nDocs = Tables.documents(spark, dir).count()
      val held = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(held.nonEmpty, "the BPE memos left no persisted RDD")
      held.foreach { case (id, rdd) =>
        val n = rdd.count()
        assert(n <= nDocs, s"persisted RDD $id holds $n rows > $nDocs documents")
      }
    } finally MatStore.clear(spark)
  }
}
