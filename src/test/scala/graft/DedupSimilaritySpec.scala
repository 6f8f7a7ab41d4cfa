package graft

import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends GraftSuite {

  test("exact dedup keeps one row per distinct content hash") {
    val d = Tables.documents(spark, sfDir)
    val kept = run("dd_exact")
    assert(kept.count() === d.select(md5(col("text"))).distinct().count())
  }

  test("minhash LSH finds the planted near-duplicates without a cartesian join") {
    val cand = run("dd_minhash_lsh")
    assert(cand.count() > 0, "planted near-dups must produce candidates")
    assert(!planOf(cand).contains("CartesianProduct"))
  }

  test("lsh bucket cap salts a synthetic hot bucket: pairs survive past the cap") {
    import spark.implicits._
    val n = 150
    val cap = operators.Dedup.MaxBucket
    assert(n > cap, "synthetic bucket must exceed the cap")
    // one giant near-dup bucket (all docs share band 0 / key "hot") + a
    // 2-doc control bucket
    val hot = (1 to n).map(i => (i.toLong, 0, "hot")) ++
      Seq((1000L, 1, "cold"), (1001L, 1, "cold"))
    val bands = hot.toDF("doc_id", "band", "bkey")
    val pairs = operators.Dedup.lshCandidates(bands)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // md5-hash-assigned chunks (expected size cap-1), the bucket rep
    // (doc 1) in every chunk: expected pair count is the sum over chunks
    // of C(members+1, 2) — replicated here with the same md5 salt rule
    // the operator (and its oracle twin) applies
    val nChunks = math.ceil((n - 1).toDouble / (cap - 1)).toInt
    // chunk hash is keyed on (band, bkey, id) — r13 ADVICE: id-only md5
    // let a chosen-id set land in one chunk of EVERY bucket it shares
    def salt(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"0:hot:$id".getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % nChunks).toInt
    }
    val chunks = (2 to n).groupBy(i => salt(i.toLong))
    val chunkSizes = chunks.values.map(_.size).toSeq
    assert(chunkSizes.size === nChunks, "both hash chunks must be populated")
    val expected = chunkSizes.map(m => (m + 1).toLong * m / 2).sum + 1
    assert(got.size.toLong === expected)
    // the r8 truncation dropped every member past rank 100 — now a
    // deep same-chunk near-dup pair survives...
    val deep = chunks.values.find(_.size >= 2).get.sorted.takeRight(2)
    assert(got.contains((deep(0).toLong, deep(1).toLong)),
      "same-chunk deep pair must survive the cap")
    // ...every member still pairs with the bucket rep (connectivity for
    // dd_clusters: one component through the rep)...
    assert((2 to n).forall(i => got.contains((1L, i.toLong))), "rep links every member")
    // ...and NO member is silently dropped from candidate generation
    val seen = got.flatMap(p => Seq(p._1, p._2))
    assert((1 to n).forall(i => seen.contains(i.toLong)))
    // the per-bucket pair count stays LINEAR in bucket size (the scale
    // guard the cap exists for): far below the quadratic C(n,2)
    assert(got.size < n.toLong * (n - 1) / 2)
    val uncapped = operators.Dedup.lshCandidates(bands, maxBucket = n).count()
    assert(uncapped === n.toLong * (n - 1) / 2 + 1)
  }

  test("bucket cap: 30 random buckets match the salting rule replicated exactly") {
    import spark.implicits._
    val cap = operators.Dedup.MaxBucket
    val rnd = new scala.util.Random(20260815L)
    // bucket sizes straddling every regime: singleton, under-cap, at-cap,
    // just-over, multiples of the chunk size, and far-over
    val sizes = Seq(1, 2, cap - 1, cap, cap + 1, 2 * (cap - 1), 2 * (cap - 1) + 1) ++
      Seq.fill(23)(1 + rnd.nextInt(3 * cap))
    var nextId = 1L
    val rows = sizes.zipWithIndex.flatMap { case (sz, b) =>
      (1 to sz).map { _ => val id = nextId; nextId += 1; (id, b, s"bk$b") }
    }
    val got = operators.Dedup.lshCandidates(rows.toDF("doc_id", "band", "bkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the rule, replicated: ≤cap → one chunk; else rep (min id) in every
    // chunk and member m in chunk md5(band:bkey:m) % nChunks
    def salt(band: Int, bkey: String, id: Long, n: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$band:$bkey:$id".getBytes("UTF-8"))
      val hex = d.take(4).map(x => f"$x%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % n).toInt
    }
    val expected = rows.groupBy(r => (r._2, r._3)).values.flatMap { members =>
      val ids = members.map(_._1).sorted
      val (band, bkey) = (members.head._2, members.head._3)
      if (ids.size <= cap) ids.combinations(2).map(p => (p(0), p(1)))
      else {
        val rep = ids.head
        val nChunks = math.ceil((ids.size - 1).toDouble / (cap - 1)).toInt
        val chunks = ids.tail.groupBy(salt(band, bkey, _, nChunks))
        chunks.values.flatMap { c =>
          val withRep = (rep +: c).sorted
          withRep.combinations(2).map(p => (p(0), p(1)))
        }
      }
    }.toSet
    assert(got === expected)
  }

  test("split leakage: a planted cross-split near-dup pair is flagged as a leak") {
    import spark.implicits._
    def bucket(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(d.take(1).map(b => f"$b%02x").mkString, 16)
    }
    // ids landing in different splits under the SHARED md5 assignment
    val trainId = (1L to 1000L).find(bucket(_) < operators.Etl.SplitTrainMax).get
    val testId = (1L to 1000L).find(bucket(_) >= operators.Etl.SplitValMax).get
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (trainId, dup),
      (testId, dup), // verbatim copy across the split boundary — the worst leak
      (5000L, "entirely different filler content words one two three four five six"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_leak").toString
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.Dedup.splitLeakage.run(spark, tmp).collect()
    assert(got.length === 1)
    val r = got.head
    assert(Set(r.getAs[String]("split_a"), r.getAs[String]("split_b"))
      === Set("train", "test"))
    assert(r.getAs[Long]("n_pairs") === 1L)
    assert(r.getAs[Boolean]("is_leak"), "a cross-split near-dup must flag as leakage")
    assert(r.getAs[Double]("avg_jac") === 1.0)
    // real corpus: pairs exist, splits legal, scores at or above the
    // verify threshold
    val real = run("dd_split_leakage").collect()
    assert(real.nonEmpty)
    val splits = Set("train", "val", "test")
    assert(real.forall(x => splits(x.getAs[String]("split_a")) &&
      splits(x.getAs[String]("split_b"))))
    assert(real.forall(_.getAs[Double]("avg_jac") >= operators.Dedup.JaccardThreshold))
    // the FIX: the cluster-aware split re-homes the planted pair into ONE
    // split — zero cross-split verified pairs by construction, with both
    // dup docs counted as cluster-placed
    val fixed = operators.Dedup.splitByCluster.run(spark, tmp).collect()
    assert(fixed.forall(_.getAs[Long]("leaked_pairs") === 0L),
      "cluster-aware splitting must leave zero cross-split near-dup pairs")
    assert(fixed.map(_.getAs[Long]("n_clustered")).sum === 2L)
    // and on the real corpus too: structural zero, full doc mass conserved
    val realFix = run("etl_split_by_cluster").collect()
    assert(realFix.forall(_.getAs[Long]("leaked_pairs") === 0L))
    assert(realFix.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sfDir).count())
  }

  test("ngram jaccard verifies candidates above threshold only") {
    val rows = run("dd_ngram_jaccard").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("jaccard") >= operators.Dedup.JaccardThreshold))
  }

  test("simhash near-dup pairs are within the Hamming budget") {
    val rows = run("dd_simhash").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("hamming") <= operators.Dedup.HammingMax))
  }

  test("brute-force top-k matches a locally computed argmax for query 0") {
    val vecs = Tables.embeddings(spark, sfDir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val q0 = vecs(0L)
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(q0, v) }
      .toSeq.sortBy { case (id, c) => (-BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP), id) }
      .head._1
    val got = run("sim_bruteforce_topk")
      .filter(col("q_id") === 0 && col("rank") === 1).head().getAs[Long]("vec_id")
    assert(got === expected)
  }

  test("brute-force returns exactly k rows per query") {
    val df = run("sim_bruteforce_topk")
    assert(df.count() === operators.Similarity.NumQueries * operators.Similarity.TopK)
  }

  test("lsh top-k candidates share at least one of the query's bands") {
    val bk = operators.Srp.bandKeys(Tables.embeddings(spark, sfDir),
      operators.Similarity.LshPlanes, operators.Similarity.LshBandSize)
      .collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .view.mapValues(_.map(r => (r.getAs[Long]("band"), r.getAs[Long]("bkey"))).toSet)
      .toMap
    val rows = run("sim_lsh_topk").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      bk(r.getAs[Long]("vec_id")).intersect(bk(r.getAs[Long]("q_id"))).nonEmpty))
  }

  test("lsh recall against the exact baseline is nonzero and within [0,1]") {
    val rows = run("sim_recall").collect()
    assert(rows.length === operators.Similarity.NumQueries)
    assert(rows.forall { r =>
      val rec = r.getAs[Double]("recall"); rec >= 0.0 && rec <= 1.0
    })
    // 4-band OR-amplification must find SOMETHING across the query set
    assert(rows.map(_.getAs[Long]("n_hits")).sum > 0)
  }

  test("ivf top-k scores only members of the query's probed cells") {
    val rows = run("sim_ivf_topk").collect()
    assert(rows.nonEmpty)
    // per query: at most k results, ranks contiguous from 1, cosine sane
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.length <= operators.Similarity.LshTopK)
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length).toSeq)
    }
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cosine"); c >= -1.0 && c <= 1.0
    })
    // a result's label must be one of the <= IvfProbes cells of its query
    // (no vector outside the probed cells may ever be scored)
    val lbl = Tables.embeddings(spark, sfDir).select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Number]("label").longValue).toMap
    val cellsPerQ = rows.groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(r => lbl(r.getAs[Long]("vec_id"))).toSet).toMap
    assert(cellsPerQ.values.forall(_.size <= operators.Similarity.IvfProbes))
  }

  test("pair stats: one row per label, mean cosine in [-1,1]") {
    val rows = run("sim_pair_stats").collect()
    assert(rows.length === Tables.embeddings(spark, sfDir).select("label").distinct().count())
    assert(rows.forall { r =>
      val c = r.getAs[Double]("mean_cos"); c >= -1.0 && c <= 1.0
    })
  }

  test("pq top-k: exact re-ranked cosines, contiguous ranks, per-query order") {
    import spark.implicits._
    val rows = run("sim_pq_topk").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.length <= operators.Similarity.LshTopK)
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length).toSeq)
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine")).toSeq
      assert(byRank === byRank.sortBy(-_), "cosine must descend with rank")
    }
    // the reported cosines are EXACT (re-rank output): recompute one pair
    val r0 = rows.minBy(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")))
    val emb = Tables.embeddings(spark, sfDir)
    val exact = emb.filter($"vec_id" === r0.getAs[Long]("q_id")).select($"embedding".as("qe"))
      .crossJoin(emb.filter($"vec_id" === r0.getAs[Long]("vec_id")).select($"embedding".as("ce")))
      .select(graft.functions.Portable.prnd(expr("graft_cosine(qe, ce)"), 6).as("c"))
      .head().getDouble(0)
    assert(r0.getAs[Double]("cosine") === exact)
  }

  test("pq recall beats the SRP-LSH path on this corpus and is well-formed") {
    val pq = run("sim_pq_recall").collect()
    assert(pq.length === operators.Similarity.NumQueries)
    assert(pq.forall { r =>
      val rc = r.getAs[Double]("recall"); rc >= 0.0 && rc <= 1.0
    })
    val meanPq = pq.map(_.getAs[Double]("recall")).sum / pq.length
    val srp = run("sim_recall").collect()
    val meanSrp = srp.map(_.getAs[Double]("recall")).sum / srp.length
    // measured ~0.80 vs ~0.30 at sf0.01 (and 0.77 vs 0.33 at sf0.001):
    // ADC top-PqReRank + exact re-rank prunes ~95% of the corpus while
    // keeping most of the true top-k; assert the ordering, not the
    // level, so regenerated corpora don't flake the suite
    assert(meanPq >= meanSrp,
      s"PQ recall $meanPq should not trail SRP recall $meanSrp")
    assert(meanPq > 0.0)
  }

  test("ivfpq top-k: exact cosines, contiguous per-query ranks, bounded k") {
    val rows = run("sim_ivfpq_topk").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.length <= operators.Similarity.LshTopK)
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length).toSeq)
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine")).toSeq
      assert(byRank === byRank.sortBy(-_), "cosine must descend with rank")
    }
    // the IVF-PQ candidate set is a subset of the trained-IVF candidate
    // set (same probed cells), so wherever both paths return a pair the
    // exact re-ranked cosine must agree with the trained-IVF exact path
    val ivf = run("sim_ivf_kmeans_topk").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      ivf.get(k).foreach(c => assert(c === r.getAs[Double]("cosine"), s"pair $k"))
    }
  }

  test("dd recall gate: accounting invariants; a planted exact dup is always caught") {
    import spark.implicits._
    val r = run("dd_recall").head()
    assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true"))
    assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_cand"))
    val rec = r.getAs[Double]("recall")
    assert(rec > 0.0 && rec <= 1.0)
    // planted: docs 1/2 identical (inside the id-prefix probe — identical
    // docs share every band, LSH MUST candidate them), doc 3 unrelated
    val tmp = java.nio.file.Files.createTempDirectory("graft_ddr").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, dup, "en", "web", dup.length.toLong),
      (2L, dup, "en", "web", dup.length.toLong),
      (3L, "completely different words about spark shuffles and joins here", "en", "web", 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = operators.Dedup.recallGate.run(spark, tmp).head()
    assert(p.getAs[Long]("n_true") === 1L)
    assert(p.getAs[Long]("n_caught") === 1L)
    assert(p.getAs[Double]("recall") === 1.0)
  }

  test("mmr rerank: greedy invariants hold and the page diverges from pure relevance") {
    val rows = run("sim_mmr_topk").collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    val ivf = run("sim_ivf_kmeans_topk").collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet === ivf.keySet)
    byQ.foreach { case (q, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("mmr_rank"))
      assert(ordered.map(_.getAs[Long]("mmr_rank")).toSeq === (1L to 5L))
      assert(ordered.map(_.getAs[Long]("vec_id")).distinct.length === 5, s"q$q dup pick")
      // rank 1 IS the pure-relevance winner (same tiebreak as the IVF path)
      val best = ivf(q).minBy(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("vec_id")))
      assert(ordered.head.getAs[Long]("vec_id") === best.getAs[Long]("vec_id"), s"q$q rank1")
      assert(ordered.head.getAs[Double]("mmr_score") ===
        ordered.head.getAs[Double]("relevance"))
      // classic MMR property: the greedy score sequence never increases
      // (a later pick was available earlier with an only-smaller penalty)
      ordered.map(_.getAs[Double]("mmr_score")).sliding(2).foreach {
        case Array(a, b) => assert(b <= a + 1e-9, s"q$q score rose $a -> $b")
      }
      // score = λ·rel − (1−λ)·maxsim with maxsim ∈ [−1, 1] (cosines can
      // be negative on random embeddings, so the penalty term can ADD)
      ordered.drop(1).foreach { r =>
        val sc = r.getAs[Double]("mmr_score"); val rel = r.getAs[Double]("relevance")
        assert(sc >= 0.7 * rel - 0.3 - 1e-6 && sc <= 0.7 * rel + 0.3 + 1e-6, s"q$q $sc")
      }
    }
    // the re-ranked page must actually differ from relevance order for
    // some query (random embeddings make near-ties common; if this ever
    // flakes the corpus changed, not the operator)
    val diverges = byQ.exists { case (q, rs) =>
      val mmr3 = rs.sortBy(_.getAs[Long]("mmr_rank")).take(3).map(_.getAs[Long]("vec_id")).toSet
      val rel3 = ivf(q).map(_.getAs[Long]("vec_id")).toSet
      mmr3 != rel3
    }
    assert(diverges, "MMR page identical to relevance top-k for every query")
  }

  test("span coverage: planted partial copy is measured; intra-doc repeats don't count") {
    import spark.implicits._
    val K = operators.Dedup.SpanK
    val tmp = java.nio.file.Files.createTempDirectory("graft_span").toString
    def words(tag: String, n: Int): Seq[String] = (1 to n).map(i => s"$tag$i")
    val shared = words("dup", 24)              // a 24-token copied passage
    val docA = (words("a", 30) ++ shared).mkString(" ")            // 54 tokens
    val docB = (shared ++ words("b", 40)).mkString(" ")            // 64 tokens
    val docC = words("c", 40).mkString(" ")                        // unique
    // intra-doc repetition: the same 16-gram twice in ONE doc only
    val rep = words("r", K)
    val docD = (rep ++ words("x", 5) ++ rep).mkString(" ")
    Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.Dedup.spanCoverage.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the copied passage has 24-K+1 = 9 shared 16-gram spans covering
    // exactly its 24 tokens in each doc
    assert(rows(1L).getAs[Long]("n_dup_spans") === (24 - K + 1).toLong)
    assert(rows(1L).getAs[Long]("covered_tokens") === 24L)
    assert(rows(2L).getAs[Long]("covered_tokens") === 24L)
    assert(rows(1L).getAs[Double]("dup_coverage") < 0.5)
    assert(rows(2L).getAs[Double]("dup_coverage") < 0.4)
    // unique doc: zero
    assert(rows(3L).getAs[Long]("n_dup_spans") === 0L)
    assert(rows(3L).getAs[Double]("dup_coverage") === 0.0)
    // intra-doc repetition is NOT cross-doc duplication
    assert(rows(4L).getAs[Long]("n_dup_spans") === 0L)
  }

  test("incremental dedup: planted cross-split dups get exact/near/keep verdicts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc").toString
    // base = ids < 450, batch = ids >= 450 (the IncSplit convention)
    val t10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t20 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, t10), // base original
      (20L, t20), // base original
      (30L, "plain base document with some ordinary words inside it"),
      (460L, t10), // exact copy of 10 -> drop_exact
      (470L, t20 + " extra"), // near copy of 20 (J = 36/37 on 5-shingles) -> drop_near
      (480L, "totally unrelated words completely different nothing shared whatsoever today"))
      .map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.Dedup.incremental.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(got.keySet === Set(460L, 470L, 480L), "one verdict per batch doc")
    assert(got(460L) === (("drop_exact", Some(10L))),
      "identical cross-split text must drop as exact with the base id")
    assert(got(470L) === (("drop_near", Some(20L))),
      "one-token-appended copy must drop as near against its base doc")
    assert(got(480L)._1 === "keep")
    assert(got(480L)._2.isEmpty)
  }

  test("embedding sweep: keep-counts decrease monotonically and agree with the keep stage") {
    import spark.implicits._
    val rows = run("dd_embedding_sweep").collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_pairs")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (8 to 19).map(_ / 20.0))
    // raising the threshold can only drop pairs
    rows.sliding(2).foreach { case Array((t1, n1), (t2, n2)) =>
      assert(n1 >= n2, s"keep-count rose from $t1 ($n1) to $t2 ($n2)")
    }
    // the production keep stage IS the CosineThreshold row of the sweep
    val atThr = rows.find(_._1 == operators.Dedup.CosineThreshold).get._2
    assert(atThr === run("dd_embedding").count())
  }

  test("est quality: identical docs estimate exactly 1; error is bounded by 1") {
    import spark.implicits._
    // planted: identical docs share every minhash component AND every
    // 3-gram, so est = exact = 1 and abs_err = 0 — the degenerate case
    // any estimator must nail
    val tmp = java.nio.file.Files.createTempDirectory("graft_estq").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, dup, "en", "web", dup.length.toLong),
      (2L, dup, "en", "web", dup.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = operators.Dedup.estQuality.run(spark, tmp).collect()
    assert(p.length === 1)
    assert(p.head.getAs[Double]("est_jaccard") === 1.0)
    assert(p.head.getAs[Double]("exact_jaccard") === 1.0)
    assert(p.head.getAs[Double]("abs_err") === 0.0)
    // real corpus: estimates are k/16 grid points, errors in [0, 1],
    // and the estimator grades every LSH candidate pair exactly once
    val rows = run("dd_est_quality").collect()
    val nCand = run("dd_minhash_lsh").count()
    assert(rows.length.toLong === nCand)
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
      assert((est * 16).round / 16.0 === est, s"est $est not on the k/16 grid")
      val err = r.getAs[Double]("abs_err")
      assert(err >= 0.0 && err <= 1.0)
    }
  }

  /** The explode + DISTINCT + join formulation of the exact 3-gram
    * Jaccard (the oracle's `verCoreSql`, spelled in Spark): one row per
    * (doc, distinct gram), pairs joined to it twice on (doc, gram),
    * sizes joined back per side.
    */
  private def joinJaccard(pairs: org.apache.spark.sql.DataFrame,
      toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val g3 = toks.select($"doc_id",
      explode(call_function("graft_shingles", $"w", lit(3))).as("s")).distinct()
    val sz = g3.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    pairs
      .join(g3.select($"doc_id".as("doc_a"), $"s"), "doc_a")
      .join(g3.select($"doc_id".as("doc_b"), $"s"), Seq("doc_b", "s"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("ni"))
      .join(sz.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sz.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b", ($"ni" / ($"na" + $"nb" - $"ni")).as("jac"))
  }

  private def jacMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"per-pair Jaccard verify matches the explode+distinct+join formulation [$mode]") {
      underMode(mode) {
        import spark.implicits._
        val toks = Seq(
          // identical documents: J = 1
          (1L, "the quick brown fox jumps over the lazy dog"),
          (2L, "the quick brown fox jumps over the lazy dog"),
          // 3 grams vs 6 grams, all 3 shared: J = 3/6 = 0.5 exactly
          (3L, "a b c d e"),
          (4L, "a b c d e f g h"),
          // 3 grams vs 7 grams, all 3 shared: J = 3/7, just below 0.5
          (5L, "a b c d e f g h i"),
          // 7 gram occurrences but 3 distinct; 1 shared with doc 7's 4:
          // J = 1/6 only if each repeated gram counts once
          (6L, "x y z x y z x y z"),
          (7L, "x y z q r s"),
          // no shared gram: absent from the scored relation
          (8L, "p q r s t"),
          (9L, "u v w x y"),
          // non-ASCII and emoji tokens: 5 grams each, 4 shared → J = 4/6
          (10L, "héllo wörld 😀 ～ naïve 日本語 x"),
          (11L, "héllo wörld 😀 ～ naïve 日本語 y"))
          .toDF("doc_id", "text")
          .select($"doc_id", split($"text", " ").as("w"))
        val pairs = Seq((1L, 2L), (3L, 4L), (3L, 5L), (6L, 7L), (8L, 9L), (10L, 11L))
          .toDF("doc_a", "doc_b")
        val got = jacMap(operators.Dedup.jaccardVerify(pairs, toks, toks))
        assert(got === jacMap(joinJaccard(pairs, toks)))
        assert(got === Map((1L, 2L) -> 1.0, (3L, 4L) -> 0.5, (3L, 5L) -> 3.0 / 7,
          (6L, 7L) -> 1.0 / 6, (10L, 11L) -> 4.0 / 6))
        val keep = got.filter(_._2 >= operators.Dedup.JaccardThreshold).keySet
        assert(keep === Set((1L, 2L), (3L, 4L), (10L, 11L)),
          "J = 0.5 is kept, 3/7 is not")

        // the corpus's own LSH candidates over the corpus token arrays
        val cand = operators.Dedup.lshCandM(spark, sfDir)
        val ctoks = operators.Dedup.tokenized(spark, sfDir)
        val corpus = jacMap(operators.Dedup.jaccardVerify(cand, ctoks, ctoks))
        assert(corpus.nonEmpty)
        assert(corpus === jacMap(joinJaccard(cand, ctoks)))
      }
    }
  }

  test("per-pair Jaccard verify keeps the caller's pair column names and sides") {
    import spark.implicits._
    // the incremental probes pass (b_id, base_id) with a different token
    // relation per side; ids present only on the wrong side never match
    val batch = Seq((500L, "a b c d e f")).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("w"))
    val base = Seq((5L, "a b c d e f g"), (500L, "a b c d e f")).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("w"))
    val pairs = Seq((500L, 5L), (5L, 500L)).toDF("b_id", "base_id")
    val out = operators.Dedup.jaccardVerify(pairs, batch, base)
    assert(out.columns.toSeq === Seq("b_id", "base_id", "jac"))
    assert(jacMap(out) === Map((500L, 5L) -> 4.0 / 5))
  }

  /** Runs `queries` on sf0.01 after [[MatStore.clear]] and hands `check`
    * the RDDs they left persisted; the store is cleared again after.
    */
  private def heldAfter(queries: String*)(
      check: (String, Map[Int, org.apache.spark.rdd.RDD[_]]) => Unit): Unit = {
    val dir = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val sc = spark.sparkContext
    MatStore.clear(spark)
    val before = sc.getPersistentRDDs.keySet
    try {
      queries.foreach(q => Registry.byName(q).run(spark, dir).collect())
      check(dir, sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.toMap)
    } finally MatStore.clear(spark)
  }

  test("embedding dedup: the scored memo holds only pairs a reader counts") {
    heldAfter("dd_embedding_sweep") { (dir, _) =>
      val scored = MatStore.of(spark, s"dd_emb_scored:$dir")(
        sys.error("dd_embedding_sweep left no scored memo"))
      assert(scored.count() > 0)
      // the keep threshold is the lowest one either reader applies
      val below = scored.filter(col("cos") < operators.Dedup.CosineThreshold).count()
      assert(below === 0, s"$below scored pairs below every reader's threshold")
    }
  }

  test("sim_* readers persist nothing finer than PqM rows per vector") {
    heldAfter("sim_pair_stats", "sim_ivf_topk", "sim_kmeans_train",
        "sim_centroid_drift", "sim_pq_topk") { (dir, held) =>
      val cap = Tables.embeddings(spark, dir).count() * operators.Similarity.PqM
      assert(held.nonEmpty, "the sim_* memos left no persisted RDD")
      // an exploded coordinate memo holds vectors x 64 rows
      held.foreach { case (id, rdd) =>
        val n = rdd.count()
        assert(n <= cap, s"persisted RDD $id holds $n rows > $cap (vectors x PqM)")
      }
    }
  }

  test("dd_minhash_lsh and dd_incremental persist no corpus token arrays") {
    heldAfter("dd_minhash_lsh", "dd_incremental") { (dir, held) =>
      // the (doc_id, w) rows exactly as the tokenization plan emits them:
      // a checkpoint of that plan holds byte-identical UnsafeRows
      val toks = operators.Dedup.tokenized(spark, dir)
        .queryExecution.toRdd.map(_.copy()).collect().toSet[Any]
      assert(toks.nonEmpty)
      assert(held.nonEmpty, "the dd_* memos left no persisted RDD")
      held.foreach { case (id, rdd) =>
        val hits = rdd.asInstanceOf[org.apache.spark.rdd.RDD[Any]].collect().count(toks.contains)
        assert(hits === 0, s"persisted RDD $id holds $hits corpus token-array rows")
      }
    }
  }
}
