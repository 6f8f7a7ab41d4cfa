package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Unit parity for the native codegen expressions added in r9
  * (graft_lexicon_score, graft_count_in, graft_simhash): each must match
  * the higher-order-function Column formulation it replaced — the
  * previous, oracle-verified semantics — including null and empty-array
  * edges, under BOTH the codegen and interpreted evaluation paths.
  */
class FunctionsSpec extends GraftSuite {
  import org.apache.spark.sql.{Column, DataFrame}

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "fast spark query is fast"),                 // plain stand-in hits
      (2L, "order fast"),                               // negated pos hit
      (3L, "hash slow batch dup"),                      // boosted neg hits
      (4L, "order hash fast"),                          // negated AND boosted
      (5L, ""),                                         // one empty token
      (6L, "irrelevant words here at all"),             // no hits
      (7L, "query hash order batch spark dup big slow"),// mixed window
      (8L, "not good"),                                 // real negated entry
      (9L, "very good news"),                           // real boosted entry
      (10L, "this movie was not very good at all"),     // negated + boosted
      (11L, "this is GOOD news"),                       // caps differential
      (12L, "VERY good stuff today"),                   // booster caps bonus (r15)
      (13L, "kind of good today"),                      // bigram dampener (r15)
      (14L, "slightly good"),                           // single dampener (r15)
      (15L, "slow day but fast ending"),                // but pivot: ×1/2, ×3/2 (r15)
      (16L, "good times but somewhat bad news"),        // but + dampener after pivot
      (17L, "very nice day good"),                      // damped booster at offset 3 (×0.9)
      (18L, "slightly irrelevant good"),                // damped dampener at offset 2 (×0.95)
      (19L, "VERY irrelevant good stuff"),              // damped CAPS booster at offset 2
      (20L, "very not good"),                           // cascade: negate at o=1, booster at o=2 sees the flipped sign (r16)
      (21L, "not not good"),                            // cascade: two separate ×−0.74 multiplies (r16)
      (22L, "SLIGHTLY good news"),                      // dampener caps FLIP: −B+C net boost (r16)
      (23L, "never so good"),                           // never-so idiom: ×5/4 instead of negation (r16)
      (24L, "without doubt good"),                      // without-doubt idiom: negation suppressed (r16)
      (25L, "without day good"),                        // 'without' still negates when no 'doubt' follows
      (26L, "order agg fast"),                          // corpus stand-in idiom: ×5/4 on the synthetic vocabulary
      (27L, "isn't good"),                              // include_nt: an unlisted "n't" contraction negates (r16)
      (28L, "nt good"),                                 // no apostrophe-t: NOT a negator
      (29L, "least good"),                              // _least_check: dampens by N_SCALAR (r16)
      (30L, "at least good"),                           // "at least": the exception, no multiply
      (31L, "very least good"),                         // "very least": exception (booster still applies at o=2)
      (32L, "day least good"),                          // non-exception prefix: multiplies
      (33L, "column fast")                              // corpus stand-in least word
    ).toDF("doc_id", "text")
  }

  /** Higher-order-function twin of the FULL valence scoring, as the
    * in-spec oracle: lowercased map lookup → sign-aligned C_INCR caps
    * emphasis (capdiff-gated) → the r16 PER-POSITION cascade (per
    * offset, under VADER's lexicon-membership gate: scalar_inc_dec
    * aligned to the RUNNING sign with the damped caps bonus — the
    * dampener caps FLIP included — then _negation_check with the
    * never-so ×5/4 and without-doubt idioms) → but-clause ×1/2 / ×3/2.
    * The divisions are over exactly-divisible values, so the double
    * intermediates are exact (≤ ~1e14, within the 2^53 mantissa) and
    * the casts back to long lossless.
    *
    * The running value threads through the offsets as CHAINED
    * PROJECTIONS (one list column per half-step, each lambda reading
    * the previous step's column by attribute reference) — the same
    * shape as the DuckDB twin. A single nested Column tree duplicates
    * the previous step's whole subtree (lexicon map literal included)
    * ~8× per level and OOMs the analyzer at three levels.
    */
  private def withHof(df0: DataFrame, entries: Seq[(String, Int)],
      out: String): DataFrame = {
    import graft.functions.LexiconScore._
    import graft.functions.VaderLexicon
    val vmap = typedlit(VaderLexicon.scaled(entries))
    def isCaps(c: Column) = c === upper(c) && c =!= lower(c)
    val bigrams = VaderLexicon.DampenerBigrams.map { case (a, b) => s"$a $b" }
    val tk = col("_tk"); val vl = col("_vl")
    def lowAt(i: Column): Column = lower(element_at(tk, i))
    def capsAt(i: Column): Column = col("_capdiff") && isCaps(element_at(tk, i))
    def idxSeq: Column = sequence(lit(1), size(tk))
    // scalar_inc_dec at offset o over the previous column
    def scalarStep(o: Int, prev: String): Column => Column = { i =>
      val p = element_at(col(prev), i)
      when(element_at(vl, i) === 0, lit(0L))
        .when(i <= o, p)
        .when(element_at(vl, i - o) =!= 0, p) // membership gate
        .otherwise {
          val b = lowAt(i - o)
          val cb = when(capsAt(i - o), lit(CapAtO(o - 1))).otherwise(lit(0L))
          def adj(m: Long): Column =
            when(p > 0, lit(m) + cb).when(p < 0, lit(-m) - cb).otherwise(lit(m) - cb)
          p + when(b.isin(VaderLexicon.Boosters: _*), adj(BoostAtO(o - 1)))
            .when(b.isin(VaderLexicon.Dampeners: _*) ||
              (i > o + 1 && concat(lowAt(i - o - 1), lit(" "), b).isin(bigrams: _*)),
              adj(-BoostAtO(o - 1)))
            .otherwise(lit(0L))
        }
    }
    // _negation_check at offset o over the previous column
    def negStep(o: Int, prev: String): Column => Column = { i =>
      val q = element_at(col(prev), i)
      val negd = (q * lit(NegScalarNum) / lit(NegScalarDen)).cast("long")
      val base = when(element_at(vl, i) === 0, lit(0L))
        .when(i <= o, q)
        .when(element_at(vl, i - o) =!= 0, q) // membership gate
      val b = lowAt(i - o)
      // o = 3 never-so reproduces vaderSentiment's actual precedence:
      // (never@i-3 AND so/this@i-2) OR so/this@i-1 (r16 review)
      val neverIdiom =
        if (o == 2)
          b.isin(VaderLexicon.NeverWords: _*) &&
            lowAt(i - 1).isin(VaderLexicon.SoThisWords: _*)
        else
          (b.isin(VaderLexicon.NeverWords: _*) &&
            lowAt(i - 2).isin(VaderLexicon.SoThisWords: _*)) ||
            lowAt(i - 1).isin(VaderLexicon.SoThisWords: _*)
      def anyIn(words: Seq[String]): Column =
        if (o == 2) lowAt(i - 1).isin(words: _*)
        else lowAt(i - 1).isin(words: _*) || lowAt(i - 2).isin(words: _*)
      val withIdioms =
        if (o == 1) base
        else base
          .when(neverIdiom, (q * lit(IdiomNum) / lit(IdiomDen)).cast("long"))
          .when(b.isin(VaderLexicon.WithoutWords: _*) && anyIn(VaderLexicon.DoubtWords), q)
      withIdioms
        // VADER negated(): the NEGATE list OR any "n't" contraction
        .when(b.isin(VaderLexicon.Negators: _*) || b.contains("n't"), negd)
        .otherwise(q)
    }
    // _least_check: "least X" (not "at least"/"very least") multiplies
    // by N_SCALAR after the lookback loop, gated on "least" ∉ lexicon
    def leastStep(prev: String): Column => Column = { i =>
      val q = element_at(col(prev), i)
      when(element_at(vl, i) === 0, lit(0L))
        .when(i > 1 && element_at(vl, i - 1) === 0 &&
          lowAt(i - 1).isin(VaderLexicon.LeastWords: _*) &&
          (i <= 2 || not(lowAt(i - 2).isin(VaderLexicon.AtVeryWords: _*))),
          (q * lit(NegScalarNum) / lit(NegScalarDen)).cast("long"))
        .otherwise(q)
    }
    val steps: Seq[(String, String, Column => Column)] = Seq(
      ("_y1", "_x0", scalarStep(1, "_x0")), ("_x1", "_y1", negStep(1, "_y1")),
      ("_y2", "_x1", scalarStep(2, "_x1")), ("_x2", "_y2", negStep(2, "_y2")),
      ("_y3", "_x2", scalarStep(3, "_x2")), ("_x3", "_y3", negStep(3, "_y3")),
      ("_x4", "_x3", leastStep("_x3")))
    val base = df0
      .withColumn("_tk", split(col("text"), " "))
      .withColumn("_vl", transform(col("_tk"), w =>
        coalesce(element_at(vmap, lower(w)), lit(0L))))
      .withColumn("_ncaps", size(filter(col("_tk"), w => isCaps(w))))
      .withColumn("_capdiff", col("_ncaps") > 0 && col("_ncaps") < size(col("_tk")))
      .withColumn("_bi", coalesce(try_element_at(filter(
        transform(col("_tk"), (w, i) =>
          when(lower(w).isin(VaderLexicon.ButWords: _*), i + 1).otherwise(lit(0))),
        x => x > 0), lit(1)), lit(0)))
      .withColumn("_x0", transform(sequence(lit(1), size(col("_tk"))), i => {
        val v = element_at(col("_vl"), i)
        when(v === 0, lit(0L)).otherwise(v +
          when(col("_capdiff") && isCaps(element_at(col("_tk"), i)),
            when(v > 0, lit(CapIncr)).otherwise(lit(-CapIncr))).otherwise(lit(0L)))
      }))
    val chained = steps.foldLeft(base) { case (df, (name, _, f)) =>
      df.withColumn(name, transform(idxSeq, f))
    }
    chained.withColumn(out, aggregate(
      transform(idxSeq, i => {
        val x = element_at(col("_x4"), i)
        when(col("_bi") > 0 && i < col("_bi"), (x / lit(2)).cast("long"))
          .when(col("_bi") > 0 && i > col("_bi"), (x * lit(3) / lit(2)).cast("long"))
          .otherwise(x)
      }), lit(0L), (acc, v) => acc + v))
      .drop("_tk", "_vl", "_ncaps", "_capdiff", "_bi",
        "_x0", "_y1", "_x1", "_y2", "_x2", "_y3", "_x3", "_x4")
  }

  private def lexCall(toks: Column, entries: Seq[(String, Int)]): Column =
    call_function("graft_lexicon_score", toks,
      lit(graft.functions.VaderLexicon.lexArg(entries)),
      lit(graft.functions.VaderLexicon.Negators.mkString(" ")),
      lit(graft.functions.VaderLexicon.Boosters.mkString(" ")),
      lit(graft.functions.VaderLexicon.dampArg),
      lit(graft.functions.VaderLexicon.ButWords.mkString(" ")),
      lit(graft.functions.VaderLexicon.idiomArg))

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"graft_lexicon_score matches the HOF formulation [$mode]") {
      underMode(mode) {
        import spark.implicits._
        val toks = split($"text", " ")
        val rows = withHof(docs, graft.functions.VaderLexicon.Entries, "hof")
          .select($"doc_id",
            lexCall(toks, graft.functions.VaderLexicon.Entries).as("native"),
            $"hof").collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}")
        }
      }
    }

    test(s"graft_count_in matches filter+array_contains, with multiplicity [$mode]") {
      underMode(mode) {
        import spark.implicits._
        val toks = split($"text", " ")
        val words = Seq("fast", "dup", "order")
        val legacy = size(filter(toks, w => array_contains(array(words.map(lit): _*), w)))
        val rows = docs.select($"doc_id",
          call_function("graft_count_in", toks, lit(words.mkString(" "))).as("native"),
          legacy.as("hof")).collect()
        rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"doc ${r.getLong(0)}"))
        // "fast" twice in doc 1 → multiplicity preserved
        assert(rows.find(_.getLong(0) == 1L).get.getInt(1) == 2)
      }
    }

    test(s"graft_simhash matches the explode+vote formulation [$mode]") {
      underMode(mode) {
        import spark.implicits._
        import graft.functions.{Portable => P}
        val bits = graft.functions.SimHashSig.Bits
        val th = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
          .select($"doc_id", P.hexToLong(md5($"w"), 1, bits / 4).as("h"))
        val voteCols = (0 until bits).map(k =>
          sum(when((shiftright($"h", k).bitwiseAND(1)) === 1, 1).otherwise(-1)).as(s"v$k"))
        val votes = th.groupBy($"doc_id").agg(voteCols.head, voteCols.tail: _*)
        val legacy = votes.select($"doc_id",
          (0 until bits)
            .map(k => when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
            .reduce(_ + _).as("hof"))
        val native = docs.select($"doc_id",
          call_function("graft_simhash", split($"text", " ")).as("native"))
        val joined = native.join(legacy, "doc_id").collect()
        assert(joined.length == docs.count())
        joined.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
      }
    }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"graft_shingles matches the transform formulation [$mode]") {
      underMode(mode) {
        import spark.implicits._
        for (k <- Seq(2, 3, 5)) {
          val toks = split($"text", " ")
          val legacy = transform(
            sequence(lit(1), size(toks) - (k - 1)),
            i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*))
          val rows = docs.filter(size(toks) >= k).select($"doc_id",
            call_function("graft_shingles", toks, lit(k)).as("native"),
            legacy.as("hof")).collect()
          assert(rows.nonEmpty)
          rows.foreach { r =>
            assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.getLong(0)} k=$k")
          }
        }
      }
    }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"graft_min_md5 matches the transform+array_min formulation [$mode]") {
      underMode(mode) {
        import spark.implicits._
        val toks = split($"text", " ")
        val sh = call_function("graft_shingles", toks, lit(3))
        val legacy = array_min(transform(sh, x => md5(x)))
        val rows = docs.filter(size(toks) >= 3).select($"doc_id",
          call_function("graft_min_md5", sh).as("native"),
          legacy.as("hof")).collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(r.getString(1) == r.getString(2), s"doc ${r.getLong(0)}")
        }
      }
    }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"graft_minhash matches the explode+md5+min formulation [$mode]") {
      underMode(mode) {
        import spark.implicits._
        import graft.functions.{MinHashSig, Portable => P}
        val (k, n) = (5, 16)
        val planted = Seq(
          // non-ASCII and non-BMP tokens: md5 runs over the UTF-8 bytes
          (101L, "héllo wörld 😀 ～ naïve 日本語 x"),
          // exactly k tokens: one shingle
          (102L, "a b c d e"),
          // repeated shingles: duplicates must not change the mins
          (103L, "a b a b a b a b a b a b")
        ).toDF("doc_id", "text")
        val toks = docs.select($"doc_id", $"text").union(planted)
          .select($"doc_id", split($"text", " ").as("w"))
          .filter(size($"w") >= k)
        val h = toks.select($"doc_id",
            explode(call_function("graft_shingles", $"w", lit(k))).as("sgl"))
          .select($"doc_id", P.hexToLong(md5($"sgl"), 1, 8).as("h"))
        val mins = (0 until n).map(j =>
          min((lit(MinHashSig.a(j)) * $"h" + lit(MinHashSig.b(j))) % MinHashSig.P).as(s"mh$j"))
        val legacy = h.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
          .select($"doc_id", array((0 until n).map(j => col(s"mh$j")): _*).as("legacy"))
        val native = toks.select($"doc_id",
          call_function("graft_minhash", $"w", lit(k), lit(n)).as("native"))
        val rows = native.join(legacy, "doc_id").collect()
        assert(rows.length == toks.count())
        assert(Set(101L, 102L, 103L).subsetOf(rows.map(_.getLong(0)).toSet))
        rows.foreach { r =>
          assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
        }
      }
    }
  }

  test("graft_minhash edge cases: null array, fewer than k tokens, null tokens") {
    import spark.implicits._
    val df = Seq(
      (1L, None: Option[Seq[String]]),     // null array → NULL
      (2L, Some(Seq("a", "b"))),           // no shingle → NULL
      (3L, Some(Seq("a", null, "c"))),     // null token skipped like concat_ws
      (4L, Some(Seq("a", "c")))
    ).toDF("id", "toks")
    val out = df.select($"id", call_function("graft_minhash", $"toks", lit(3), lit(4)).as("m"))
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(out(1L).isNullAt(1))
    assert(out(2L).isNullAt(1))
    val two = df.select($"id", call_function("graft_minhash", $"toks", lit(2), lit(4)).as("m"))
      .collect().map(r => (r.getLong(0), r)).toMap
    // "a c" is the one shingle of both [a, null, c] (k = 3) and [a, c]
    assert(out(3L).getSeq[Long](1) == two(4L).getSeq[Long](1))
    assert(out(3L).getSeq[Long](1).length == 4)
  }

  test("graft_minhash rejects a non-literal k, k < 1 and an out-of-range n at analysis time") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), 2)).toDF("toks", "k")
    def err(k: Column, n: Column): String = {
      val e = intercept[Exception] {
        df.select(call_function("graft_minhash", $"toks", k, n)).collect()
      }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
    }
    assert(err($"k", lit(16)).contains("literal int k and n"))
    for (k <- Seq(0, -1)) assert(err(lit(k), lit(16)).contains("k >= 1"), s"k=$k")
    assert(err(lit(2), lit(0)).contains("1 <= n <="))
  }

  test("nanolog portability pin: the JVM's floor(ln(k)*1e9+0.5) stream matches the recorded CRC") {
    // The exact-integer NB scoring (sent_nb_eval) rests on
    // floor(ln(k)*1e9+0.5) being bit-identical between JVM Math.log and
    // DuckDB ln for every integer k <= 1e8 — measured once and pinned
    // as per-range CRCs in NanologPortability. This recomputes the JVM
    // side of the first range on every run, so a JDK whose Math.log
    // rounds differently FAILS the build instead of silently
    // desynchronizing the oracle (tools/nanolog_check.py pins the
    // DuckDB side against the same constants).
    val (lo, hi, want) = functions.NanologPortability.Ranges.head
    assert(functions.NanologPortability.jvmCrc(lo, hi) === want,
      "JVM Math.log nanolog stream changed — re-measure both engines " +
        "(tools/nanolog_check.py) before trusting sent_nb_eval's oracle")
  }

  test("nanolog envelope guard: li raises past the measured 1e8, exact inside it") {
    // r17 ADVICE: beyond MeasuredMax the cross-engine agreement is
    // extrapolated, not pinned — leaving the envelope must surface as
    // an explicit error, never a possible oracle hash mismatch.
    import spark.implicits._
    val max = functions.NanologPortability.MeasuredMax
    val ok = Seq(1L, 7L, max).toDF("k")
      .select(operators.Sentiment.li(col("k")).as("li")).collect()
    assert(ok.map(_.getLong(0)) ===
      Seq(1L, 7L, max).map(k => math.floor(math.log(k.toDouble) * 1e9 + 0.5).toLong))
    val e = intercept[Exception] {
      Seq(max + 1).toDF("k").select(operators.Sentiment.li(col("k"))).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("measured cross-engine envelope"), msgs)
  }

  test("graft_min_md5 edge cases: empty array, null elements, null array") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.empty[String])),     // empty → NULL (the < k-token doc)
      (2L, Some(Seq("a", null, "b"))),   // null elements skipped
      (3L, None: Option[Seq[String]])    // null array → NULL
    ).toDF("id", "toks")
    val out = df.select($"id", call_function("graft_min_md5", $"toks").as("m"))
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(out(1L).isNullAt(1))
    val expect2 = Seq("a", "b")
      .map(s => org.apache.commons.codec.digest.DigestUtils.md5Hex(s)).min
    assert(out(2L).getString(1) == expect2)
    assert(out(3L).isNullAt(1))
  }

  test("graft_shingles rejects k < 1 at analysis time") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq("a", "b", "c"))).toDF("toks")
    for (k <- Seq(0, -1)) {
      val e = intercept[Exception] {
        df.select(call_function("graft_shingles", $"toks", lit(k))).collect()
      }
      assert(e.getMessage.contains("k >= 1"), s"k=$k: ${e.getMessage}")
    }
  }

  test("graft_shingles edge cases: short arrays, null tokens, null array") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq("a", "b"))),          // n < k → empty
      (2L, Some(Seq("a", null, "c"))),    // null token skipped like concat_ws
      (3L, None: Option[Seq[String]])     // null array → null
    ).toDF("id", "toks")
    val out = df.select($"id",
      call_function("graft_shingles", $"toks", lit(3)).as("sh"))
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(out(1L).getSeq[String](1) == Seq.empty)
    assert(out(2L).getSeq[String](1) == Seq("a c"))
    assert(out(3L).isNullAt(1))
  }

  test("Tables.normalizeTs handles both on-disk encodings of events.ts") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // long nanos (the TIMESTAMP(NANOS)+nanosAsLong read): truncate to micros
    val nanos = Seq(1700000000123456789L, 42L).toDF("ts")
    val gotNanos = nanos
      .select(Tables.normalizeTs(LongType).as("ts"))
      .collect().map(_.getAs[java.sql.Timestamp](0).toInstant)
    assert(gotNanos(0) == java.time.Instant.ofEpochSecond(1700000000L, 123456000L))
    assert(gotNanos(1) == java.time.Instant.EPOCH)
    // TIMESTAMP_NTZ (plain timestamp[us] read): same instant, session-TZ type
    val ntz = Seq(java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 20)).toDF("ts")
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val gotNtz = ntz.select(Tables.normalizeTs(TimestampNTZType).as("ts"))
    assert(gotNtz.schema("ts").dataType == TimestampType)
    // session TZ is UTC, so the NTZ wall-clock maps to the same instant
    assert(gotNtz.collect()(0).getAs[java.sql.Timestamp](0).toInstant ==
      java.time.Instant.ofEpochSecond(1700000000L))
  }

  test("null and empty-array inputs propagate/degenerate correctly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq("fast", "slow"))),
      (2L, Some(Seq.empty[String])),
      (3L, None: Option[Seq[String]])
    ).toDF("id", "toks")
    val out = df.select($"id",
      lexCall($"toks", graft.functions.VaderLexicon.Entries).as("score"),
      call_function("graft_count_in", $"toks", lit("fast")).as("cnt"),
      call_function("graft_simhash", $"toks").as("sig"))
      .collect().map(r => (r.getLong(0), r)).toMap
    // non-null input: fast(+1.9) + slow(-1.9) cancel but both counted
    assert(out(1L).getLong(1) == 0L && out(1L).getInt(2) == 1)
    // empty array: all-zero results, not null
    assert(!out(2L).isNullAt(1) && out(2L).getLong(1) == 0L)
    assert(out(2L).getLong(3) == 0L)
    // null array: null through all three
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(3))
  }

  test("graft_sdot equals the exploded Portable.dsum formulation exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1L to 40L).map { i =>
      (i, Seq.fill(8)(rng.nextDouble() * 2 - 1), Seq.fill(8)(rng.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "xs", "cs")
    val got = df.select($"id", call_function("graft_sdot", $"xs", $"cs", lit(9)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: the dsum semantics in plain Scala — per-term scaled
    // floor-round, exact long sum, one final divide
    rows.foreach { case (i, xs, cs) =>
      val acc = xs.zip(cs).map { case (x, c) => math.floor(x * c * 1e9 + 0.5).toLong }.sum
      assert(got(i) == acc / 1e9, s"row $i")
    }
    // and via the engine's own exploded dsum aggregate
    val expl = df.select($"id", posexplode(arrays_zip($"xs", $"cs")))
      .select($"id", $"col.xs".as("x"), $"col.cs".as("c"))
      .groupBy($"id").agg(graft.functions.Portable.dsum($"x" * $"c", 9).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, _, _) => assert(got(i) == expl(i), s"row $i vs dsum") }
  }

  test("graft_sdot edge cases: float side widening, nulls, scale guard") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(0.5f, -0.25f)), Some(Seq(0.5, 0.5))),
      (2L, None: Option[Seq[Float]], Some(Seq(1.0, 1.0))),
      (3L, Some(Seq(1.0f)), None: Option[Seq[Double]])
    ).toDF("id", "fs", "ds")
    val out = df.select($"id", call_function("graft_sdot", $"fs", $"ds", lit(9)).as("d"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(1) == (math.floor(0.5 * 0.5 * 1e9 + 0.5).toLong +
      math.floor(-0.25 * 0.5 * 1e9 + 0.5).toLong) / 1e9)
    assert(out(2L).isNullAt(1) && out(3L).isNullAt(1))
    val e = intercept[Exception] {
      df.select(call_function("graft_sdot", $"ds", $"ds", lit(-1))).collect()
    }
    assert(e.getMessage.contains("scale"), e.getMessage)
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"graft_zorder matches a bit-by-bit reference interleave [$mode]") {
      import spark.implicits._
      def ref(a: Long, b: Long): Long = {
        var z = 0L
        for (bit <- 0 until 31) {
          z |= ((a >> bit) & 1L) << (2 * bit)
          z |= ((b >> bit) & 1L) << (2 * bit + 1)
        }
        z
      }
      val rng = new scala.util.Random(11)
      // in-domain values only: out-of-domain now RAISES (r11 — silent
      // masking degraded the layout to noise), asserted below
      val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0x7FFFFFFFL, 0x7FFFFFFFL)) ++
        (1 to 40).map(_ => (rng.nextInt(1 << 30).toLong, rng.nextInt(1 << 30).toLong))
      val bad = intercept[Throwable] {
        underMode(mode) {
          Seq((-1L, 5L)).toDF("a", "b")
            .select(call_function("graft_zorder", $"a", $"b")).collect()
        }
      }
      assert(Iterator.iterate(bad)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.contains("Morton domain")),
        s"expected a Morton-domain raise, got: $bad")
      val got = underMode(mode) {
        rows.toDF("a", "b")
          .select($"a", $"b", call_function("graft_zorder", $"a", $"b").as("z"))
          .collect()
      }
      got.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(r.getLong(2) === ref(a & 0x7FFFFFFFL, b & 0x7FFFFFFFL), s"($a,$b)")
        assert(r.getLong(2) >= 0L)
      }
      // monotone-in-box property the layout relies on: doubling a while
      // b is fixed can only raise the key
      assert(ref(8, 3) < ref(16, 3))
    }
  }

  test("graft_zorder null propagation and type guard") {
    import spark.implicits._
    val df = Seq((Some(1L), None: Option[Long]), (None, Some(2L)), (Some(3L), Some(4L)))
      .toDF("a", "b")
    val out = df.select(call_function("graft_zorder", $"a", $"b")).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && !out(2).isNullAt(0))
    val e = intercept[Exception] {
      Seq(("x", 1L)).toDF("s", "b")
        .select(call_function("graft_zorder", $"s", $"b")).collect()
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("graft_topk keeps the k smallest structs, bounded, matching the sort oracle") {
    import spark.implicits._
    // adversarial layout: many partitions so merge() runs, duplicate
    // priorities so ties resolve by the next struct field, one group
    // smaller than k, and enough rows per group to force buffer pruning
    val rows = for (g <- 1 to 3; i <- 1 to (if (g == 3) 2 else 40))
      yield (s"g$g", (i * 7919) % 13L, i.toLong) // priority collides mod 13
    val df = rows.toDF("g", "p", "id").repartition(16)
    val got = df.groupBy($"g")
      .agg(call_function("graft_topk", struct($"p", $"id"), lit(5)).as("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))).toMap
    // in-memory oracle: full sort then take(5)
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sorted.take(5).toSeq
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (g, w) => assert(got(g) == w, s"group $g: ${got(g)} vs $w") }
    // the undersized group returns all its rows, sorted
    assert(got("g3").length == 2)
  }

  test("graft_topk nulls are skipped and SQL registration works") {
    import spark.implicits._
    Seq((1L, Some(5L)), (1L, None), (1L, Some(2L)), (1L, Some(9L)))
      .toDF("g", "v").createOrReplaceTempView("tk_in")
    val out = spark.sql(
      """SELECT graft_topk(
        |  CASE WHEN v IS NULL THEN NULL ELSE named_struct('v', v) END, 2) AS t
        |FROM tk_in GROUP BY g""".stripMargin)
      .collect()(0).getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0))
    assert(out == Seq(2L, 5L))
  }

  test("SQL builders reject wrong arity with a named analysis-time error") {
    // r17 ADVICE: the guard must not rely on Spark's internal
    // error-class AnalysisException constructor; assert the plain
    // message names the function and both counts, and that no
    // IndexOutOfBoundsException escapes the builder.
    import spark.implicits._
    Seq(Tuple1(Seq(1.0f))).toDF("v").createOrReplaceTempView("arity_in")
    for ((sqlCall, fn, want) <- Seq(
        ("graft_cosine(v)", "graft_cosine", 2),
        ("graft_hamming(1, 2, 3)", "graft_hamming", 2),
        ("graft_simhash()", "graft_simhash", 1))) {
      val e = intercept[Exception] { spark.sql(s"SELECT $sqlCall FROM arity_in").collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("") + " " + t.getClass.getName).toSeq
      assert(msgs.exists(m => m.contains(fn) && m.contains(s"requires $want argument")),
        s"$sqlCall: ${msgs.mkString(" | ")}")
      assert(!msgs.exists(_.contains("IndexOutOfBounds")), s"$sqlCall leaked IOOBE")
    }
  }
}
