package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StringType, LongType}

class SourcesSpec extends GraftSuite {
  import sources.CorpusIO

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("partitioned parquet: filtered reads prune at planning time") {
    import spark.implicits._
    val dir = tmp("graft_part")
    val docs = Tables.documents(spark, sfDir)
    CorpusIO.writePartitioned(docs, dir, Seq("lang"))
    val back = CorpusIO.readPartitioned(spark, dir)
    // round-trip completeness (partition column moves to the directory
    // names and back into the schema)
    assert(back.count() === docs.count())
    assert(back.columns.sorted === docs.columns.sorted)
    val one = back.filter($"lang" === "en")
    one.collect()
    // the lang predicate must be a PartitionFilter on the scan — pruned
    // directories are never listed into the read, which is the entire
    // point of the layout at 100 TB
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("lang"),
      s"lang filter did not prune partitions:\n$scan")
    assert(one.count() === docs.filter($"lang" === "en").count())
  }

  test("bucketed tables: same-key join and aggregation plan no exchange") {
    import spark.implicits._
    val d1 = tmp("graft_bkt1"); val d2 = tmp("graft_bkt2")
    val ev = Tables.events(spark, sfDir).select($"user_id", $"value", $"event_type")
    val users = ev.groupBy($"user_id").agg(count(lit(1)).as("n_events"))
    try {
      CorpusIO.writeBucketed(ev, "bkt_events", d1, "user_id", 8)
      CorpusIO.writeBucketed(users, "bkt_users", d2, "user_id", 8)
      val e = spark.table("bkt_events")
      val u = spark.table("bkt_users")
      // join on the bucket key: both scans report hash partitioning on
      // user_id, so the join needs no shuffle on either side — the write
      // paid the exchange once, every reader amortizes it (the durable
      // form of the MatStore repartition-cache)
      val joined = e.join(u, "user_id").groupBy($"user_id")
        .agg(sum($"value").as("v"), first($"n_events").as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join/agg should not shuffle:\n$plan")
      // and the result is the same as the unbucketed formulation
      val expect = ev.join(users, "user_id").groupBy($"user_id")
        .agg(sum($"value").as("v"), first($"n_events").as("n"))
      assert(joined.orderBy("user_id").collect().toSeq ===
        expect.orderBy("user_id").collect().toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_events")
      spark.sql("DROP TABLE IF EXISTS bkt_users")
    }
  }

  test("jsonl source: explicit schema, corrupt lines quarantined not dropped") {
    val dir = tmp("graft_jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr"}""",
      """{"doc_id": oops not json""",
      """{"doc_id": 3, "text": null, "lang": "de"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part0.jsonl"),
      String.join("\n", lines: _*).getBytes)
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    val parsed = CorpusIO.readJsonl(spark, dir, schema)
    val (good, bad) = CorpusIO.quarantine(parsed)
    assert(good.count() === 3)
    assert(good.columns.toSeq === Seq("doc_id", "text", "lang"))
    val badLines = bad.collect().map(_.getString(0))
    assert(badLines.length === 1 && badLines(0).contains("oops"))
  }

  test("csv source: explicit schema, malformed lines quarantined not dropped") {
    import org.apache.spark.sql.types._
    val dir = tmp("graft_csv")
    val lines = Seq(
      "1,hello world,2.5",
      "2,second line,0.75",
      "not_a_long,broken,xyz", // bad types -> quarantine whole
      "3,third,1.0")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("score", DoubleType)))
    val parsed = CorpusIO.readCsv(spark, dir, schema)
    val (good, bad) = CorpusIO.quarantine(parsed)
    assert(good.count() === 3L)
    assert(good.columns.toSeq === Seq("id", "text", "score"))
    assert(good.filter(org.apache.spark.sql.functions.col("id") === 1L)
      .head().getAs[Double]("score") === 2.5)
    val badLines = bad.collect().map(_.getString(0))
    assert(badLines.length === 1 && badLines.head.startsWith("not_a_long"),
      "the malformed line must be quarantined whole, not dropped or nulled")
  }

  test("z-ordered layout: a secondary-dimension filter skips most files; linear skips none") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two independent uniform dims, deterministic from the row id
    val rng = new scala.util.Random(3)
    val df = (1 to 20000).map(_ => (rng.nextInt(1024).toLong, rng.nextInt(1024).toLong))
      .toDF("x", "y")
    val files = 16
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    CorpusIO.writeZOrdered(df, zDir, "x", "y", files)
    df.repartitionByRange(files, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linDir)
    // files whose [min,max] y-range intersects a narrow y slice — the
    // set a parquet reader must open given footer stats
    def touched(dir: String): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"y").as("lo"), max($"y").as("hi"))
        .filter($"lo" <= 96L && $"hi" >= 32L)
        .count()
    val zTouched = touched(zDir)
    val linTouched = touched(linDir)
    assert(linTouched === files.toLong,
      s"linear-by-x layout cannot skip on y (got $linTouched)")
    assert(zTouched <= files / 2,
      s"z-order should confine a 1/16 y-slice to few files, touched $zTouched")
    // layout is a pure reordering: content unchanged
    assert(spark.read.parquet(zDir).count() === 20000L)
  }

  test("small-files compaction: fewer files, identical rows, no shuffle") {
    import spark.implicits._
    val in = tmp("compact_in")
    val out = tmp("compact_out")
    // fragment: 64 tiny files of a small table (the streaming-sink shape)
    val df = (0 until 2000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    df.repartition(64).write.mode("overwrite").parquet(in)
    val nIn = new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nIn >= 32, s"fragmentation setup produced only $nIn files")

    val target = CorpusIO.compactFiles(spark, in, out, targetFileBytes = 512L << 10)
    val nOut = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nOut <= math.max(target, 4),
      s"compaction left $nOut files for a $target-file target")
    assert(nOut < nIn / 4, s"compaction barely reduced the file count: $nIn -> $nOut")
    // same rows (I/O repair only)
    val a = spark.read.parquet(in).orderBy("id").collect()
    val b = spark.read.parquet(out).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    // the rewrite plan is coalesce-only: no exchange anywhere
    val plan = planOf(spark.read.parquet(in).coalesce(target))
    assert(!plan.toLowerCase.contains("exchange"),
      s"compaction rewrite plans a shuffle:\n$plan")
  }

  test("z-ordered write rejects keys outside the 31-bit Morton domain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zbad").toString
    // epoch-micros-scale values: ordering lives above bit 31, so the
    // masked key would be noise — graft_zorder raises in-task at the
    // first bad row and the write fails loudly instead of producing a
    // silently useless layout
    def rootCause(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val wide = Seq((1_700_000_000_000_000L, 5L), (1_700_000_001_000_000L, 6L))
      .toDF("ts_us", "y")
    val eWide = intercept[Throwable] {
      CorpusIO.writeZOrdered(wide, dir, "ts_us", "y", 2)
    }
    assert(rootCause(eWide).getMessage.contains("Morton domain"))
    // negative keys break the interleave the same way
    val neg = Seq((-5L, 1L), (3L, 2L)).toDF("x", "y")
    val eNeg = intercept[Throwable] {
      CorpusIO.writeZOrdered(neg, dir, "x", "y", 2)
    }
    assert(rootCause(eNeg).getMessage.contains("Morton domain"))
  }

  test("retention purge: expired partitions deleted by metadata only, survivors untouched") {
    import spark.implicits._
    val dir = tmp("graft_ttl")
    Seq(
      (1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c"),
      (4L, "2024-01-05", "d"), (5L, "2024-01-05", "e"))
      .toDF("id", "dt", "payload")
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    // plant a CORRUPT parquet file inside an EXPIRED partition: a purge
    // that opened data files would throw; a metadata-only purge deletes
    // the directory without ever looking inside
    val corrupt = new java.io.FileOutputStream(s"$dir/dt=2024-01-01/part-corrupt.parquet")
    corrupt.write("not parquet at all".getBytes); corrupt.close()
    // plant a hidden sidecar in a SURVIVOR partition: it must ride
    // through untouched (no rewrite, no listing-into of live partitions)
    val sidecar = new java.io.File(s"$dir/dt=2024-01-05/_sidecar.bin")
    val sw = new java.io.FileOutputStream(sidecar); sw.write(Array[Byte](1, 2, 3)); sw.close()
    def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    val before = files("dt=2024-01-05")
    val deleted = CorpusIO.retentionPurge(spark, dir, "dt", "2024-01-03")
    assert(deleted === Seq("2024-01-01", "2024-01-02"))
    assert(!new java.io.File(s"$dir/dt=2024-01-01").exists())
    assert(!new java.io.File(s"$dir/dt=2024-01-02").exists())
    // survivor partition: byte-for-byte the same files (nothing was
    // read, rewritten, or cleaned up), sidecar included
    assert(files("dt=2024-01-05") === before)
    assert(sidecar.exists())
    val back = spark.read.option("basePath", dir).parquet(dir)
    assert(back.select("id").as[Long].collect().sorted.toSeq === Seq(4L, 5L))
    // idempotent: a second run finds nothing to purge
    assert(CorpusIO.retentionPurge(spark, dir, "dt", "2024-01-03").isEmpty)
  }

  test("manifest: footer-exact row counts; diff classifies the file lifecycle") {
    import spark.implicits._
    val dir = tmp("graft_man")
    // v1: two partitions
    Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"))
      .toDF("id", "text", "lang")
      .write.partitionBy("lang").parquet(s"$dir/v1")
    val m1 = CorpusIO.manifest(spark, s"$dir/v1")
    val rows1 = m1.collect()
    // every data file listed, row counts are footer-exact, paths relative
    assert(rows1.map(_.getAs[Long]("n_rows")).sum === 3L)
    assert(rows1.forall(r => r.getAs[String]("file").startsWith("lang=")))
    assert(rows1.forall(_.getAs[Long]("bytes") > 0L))
    // v2 = v1 with: de partition dropped, fr added, en rewritten bigger
    Seq((1L, "a", "en"), (2L, "b", "en"), (9L, "z", "en"), (7L, "f", "fr"))
      .toDF("id", "text", "lang")
      .write.partitionBy("lang").parquet(s"$dir/v2")
    val m2 = CorpusIO.manifest(spark, s"$dir/v2")
    assert(m2.agg(sum($"n_rows")).as[Long].head === 4L)
    // diff keyed on the RELATIVE path: part file names differ between
    // writes, so rewrite shows as remove+add; plant a same-name change
    // by copying v1 then appending rows to one partition in place
    val v3 = s"$dir/v3"
    org.apache.hadoop.fs.FileUtil.copy(
      new org.apache.hadoop.fs.Path(s"$dir/v1").getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$dir/v1"),
      new org.apache.hadoop.fs.Path(v3).getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(v3),
      false, spark.sessionState.newHadoopConf())
    val m3 = CorpusIO.manifest(spark, v3)
    // unchanged copy: every v1 file present with identical bytes/rows
    val d13 = CorpusIO.manifestDiff(m1, m3).collect()
    assert(d13.forall(r => Set("unchanged", "changed")(r.getAs[String]("status"))))
    assert(d13.exists(_.getAs[String]("status") == "unchanged") ||
      d13.forall(_.getAs[String]("status") == "changed")) // mtime granularity
    // added / removed classification across real versions
    val d12 = CorpusIO.manifestDiff(m1, m2).collect()
    val byStatus = d12.groupBy(_.getAs[String]("status")).view.mapValues(_.length).toMap
    assert(byStatus.getOrElse("added", 0) > 0)    // fr files + rewritten en
    assert(byStatus.getOrElse("removed", 0) > 0)  // de files + old en names
    // the incremental work list = added + changed, with readable payloads
    d12.filter(_.getAs[String]("status") == "added").foreach { r =>
      assert(r.getAs[Long]("n_rows") >= 1L)
    }
  }

  test("manifest schema guard: a divergent-schema day is classified and refused") {
    // r14 verdict item 4: a real daily feed eventually lands a file with
    // an added/missing/retyped column. The manifest's footer-schema
    // fingerprint (same footer read the row count pays) must classify
    // (a) a base file REWRITTEN with a new schema as schema_changed and
    // (b) an added batch file whose schema disagrees with the base
    // corpus, and the gate guard must refuse both with the
    // base-integrity error instead of letting the file null-fill a
    // downstream operator.
    import spark.implicits._
    val dir = tmp("graft_man_schema")
    val corpus = s"$dir/corpus"
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").coalesce(1)
      .write.parquet(corpus)
    // materialize the snapshot NOW: manifest captures the file LIST
    // eagerly but its footer reads are lazy, and this test rewrites a
    // base file in place below — a re-executed lazy snapshot would read
    // the rewritten footer into the "old" side and mask the drift
    val m1 = CorpusIO.manifest(spark, corpus).localCheckpoint()
    val fp1 = m1.collect().map(_.getAs[String]("schema_fp")).distinct
    assert(fp1.length === 1 && fp1.head.length === 32,
      "one consistent 32-hex footer-schema fingerprint for a uniform corpus")

    // (b) a batch day arrives with a RETYPED column (id int, extra col)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(corpus).getFileSystem(conf)
    Seq((3, "c", 0.5)).toDF("id", "text", "score").coalesce(1)
      .write.parquet(s"$dir/batch")
    val batchFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/batch"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, batchFile, fs,
      new org.apache.hadoop.fs.Path(s"$corpus/day1-divergent.parquet"), false, conf)
    val d = CorpusIO.manifestDiff(m1, CorpusIO.manifest(spark, corpus)).collect()
    val added = d.filter(_.getAs[String]("status") == "added")
    assert(added.length === 1)
    assert(added.head.getAs[String]("schema_fp") !== fp1.head,
      "the divergent batch file must carry a different fingerprint")
    val refusal = intercept[IllegalArgumentException] {
      CorpusIO.schemaGuard(d.toIndexedSeq)
    }
    assert(refusal.getMessage.contains("day1-divergent.parquet"))
    assert(refusal.getMessage.toLowerCase.contains("divergent"))

    // a schema-CONSISTENT batch day passes the guard
    fs.delete(new org.apache.hadoop.fs.Path(s"$corpus/day1-divergent.parquet"), false)
    Seq((4L, "d")).toDF("id", "text").coalesce(1).write.parquet(s"$dir/ok")
    val okFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/ok"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, okFile, fs,
      new org.apache.hadoop.fs.Path(s"$corpus/day1-ok.parquet"), false, conf)
    val dOk = CorpusIO.manifestDiff(m1, CorpusIO.manifest(spark, corpus)).collect()
    CorpusIO.schemaGuard(dOk.toIndexedSeq) // must not throw
    assert(dOk.count(_.getAs[String]("status") == "added") === 1)

    // (a) a base file rewritten IN PLACE with a new schema → schema_changed
    val baseFile = m1.collect().map(_.getAs[String]("file")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, batchFile, fs,
      new org.apache.hadoop.fs.Path(s"$corpus/$baseFile"), false, conf)
    val d2 = CorpusIO.manifestDiff(m1, CorpusIO.manifest(spark, corpus)).collect()
    assert(d2.exists(r => r.getAs[String]("status") == "schema_changed" &&
        r.getAs[String]("file") == baseFile),
      s"in-place schema rewrite must classify schema_changed: ${d2.mkString(", ")}")
    val refusal2 = intercept[IllegalArgumentException] {
      CorpusIO.schemaGuard(d2.toIndexedSeq)
    }
    assert(refusal2.getMessage.contains(baseFile))

    // (c) ADDITIVE evolution (r15 verdict item 4): a batch day whose
    // files carry the base schema PLUS a new nullable column must be
    // ACCEPTED by the guard (old files null-fill under the merged
    // schema) — distinct from the retyped case (b) above
    val corpus2 = s"$dir/corpus2"
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").coalesce(1)
      .write.parquet(corpus2)
    val m2base = CorpusIO.manifest(spark, corpus2).localCheckpoint()
    // Option → a genuinely NULLABLE (parquet optional) added column; a
    // plain Double would write REQUIRED, which the additive rule refuses
    Seq((3L, "c", Some(0.5))).toDF("id", "text", "score").coalesce(1)
      .write.parquet(s"$dir/additive")
    val addFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/additive"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, addFile, fs,
      new org.apache.hadoop.fs.Path(s"$corpus2/day1-additive.parquet"), false, conf)
    val dAdd = CorpusIO.manifestDiff(m2base, CorpusIO.manifest(spark, corpus2)).collect()
    assert(dAdd.count(_.getAs[String]("status") == "added") === 1)
    CorpusIO.schemaGuard(dAdd.toIndexedSeq) // additive day: must not throw

    // (d) a BASE file rewritten in place with the additive schema
    // classifies schema_added_col (compatible schema — the guard does
    // not refuse it), NOT schema_changed; the in-place rewrite itself
    // stays a STALENESS refusal owned by the gate's base-integrity
    // check, which lists schema_added_col alongside changed
    val base2File = m2base.collect().map(_.getAs[String]("file")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, addFile, fs,
      new org.apache.hadoop.fs.Path(s"$corpus2/$base2File"), false, conf)
    val dRw = CorpusIO.manifestDiff(m2base, CorpusIO.manifest(spark, corpus2)).collect()
    assert(dRw.exists(r => r.getAs[String]("status") == "schema_added_col" &&
        r.getAs[String]("file") == base2File),
      s"additive in-place rewrite must classify schema_added_col: ${dRw.mkString(", ")}")
    // dropped-column evolution is NEVER additive: against the widened
    // (id, text, score) base consensus, an added (id, text) file is a
    // SUBSET — compatible reads would silently lose the column, so the
    // guard refuses it
    val corpus3 = s"$dir/corpus3"
    Seq((1L, "a", 0.5)).toDF("id", "text", "score").coalesce(1)
      .write.parquet(corpus3)
    val m3base = CorpusIO.manifest(spark, corpus3).localCheckpoint()
    Seq((9L, "z")).toDF("id", "text").coalesce(1).write.parquet(s"$dir/dropped")
    val dropFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/dropped"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, dropFile, fs,
      new org.apache.hadoop.fs.Path(s"$corpus3/day1-dropped.parquet"), false, conf)
    val dDrop = CorpusIO.manifestDiff(m3base, CorpusIO.manifest(spark, corpus3)).collect()
    val refusal3 = intercept[IllegalArgumentException] {
      CorpusIO.schemaGuard(dDrop.toIndexedSeq)
    }
    assert(refusal3.getMessage.contains("day1-dropped.parquet"))
  }

  test("manifest: abandoned-write debris excluded at any depth; awkward file names resolve") {
    import spark.implicits._
    val dir = tmp("graft_man_edge")
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").coalesce(1).write.parquet(s"$dir/v")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // a data file whose BASENAME looks clean but which lives under an
    // abandoned _temporary/ from a failed write must not enter the
    // snapshot (r12 ADVICE: the old filter checked only the basename)
    val debris = new org.apache.hadoop.fs.Path(s"$dir/v/_temporary/0/part-debris.parquet")
    fs.mkdirs(debris.getParent)
    val real = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, real, fs, debris, false, conf)
    // a file name with spaces and a literal percent must list AND have
    // its footer read through the captured qualified path (the old
    // URI-encoded re-join misresolved both)
    val awkward = new org.apache.hadoop.fs.Path(s"$dir/v/copy with space %20.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, real, fs, awkward, false, conf)
    val m = CorpusIO.manifest(spark, s"$dir/v").collect()
    assert(!m.exists(_.getAs[String]("file").contains("_temporary")),
      "debris under an abandoned underscore directory must be excluded")
    val awk = m.filter(_.getAs[String]("file").contains("copy with space"))
    assert(awk.length === 1, s"awkward name missing: ${m.map(_.getAs[String]("file")).mkString(", ")}")
    assert(awk.head.getAs[Long]("n_rows") === 2L,
      "the footer of the awkward-named file must be read through the qualified path")
  }

  test("explorer pushdown: the dashboard query prunes partitions and skips files on the curated layout") {
    // r13 verdict item 7: an_explorer (lang = 'en' AND n_chars > 200,
    // top-20 by n_chars) is the first query a real user fires at a
    // 100 TB corpus. On the curated layout — hive-partitioned by lang,
    // files range-sorted on n_chars within each partition — its filter
    // must become (1) partition PRUNING on lang (non-matching dirs are
    // never listed into the scan), (2) a pushed n_chars predicate, and
    // (3) footer-stats FILE SKIPPING within the surviving partition.
    import spark.implicits._
    val dir = tmp("graft_explorer")
    val docs = Tables.documents(spark, sfDir)
    // 16 range buckets → ~9 en rows per file, so one explorer PAGE spans
    // several files (the keyset continuation below needs a whole file
    // above the page-1 cursor to demonstrate the skip)
    docs.repartitionByRange(16, $"n_chars")
      .sortWithinPartitions($"n_chars")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val q = CorpusIO.readPartitioned(spark, dir)
      .filter($"lang" === "en" && $"n_chars" > 200)
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .orderBy($"n_chars".desc, $"doc_id").limit(20)
    // identical rows to the flat-layout explorer — layout is invisible
    // to semantics
    val got = q.collect().map(_.toString).toSeq
    val expect = Registry.byName("an_explorer").run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(got === expect, "curated-layout explorer diverged from the flat read")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("lang"),
      s"lang must prune partitions:\n$plan")
    assert(plan.contains("PushedFilters: [") &&
      plan.split("PushedFilters:")(1).takeWhile(_ != ']').contains("n_chars"),
      s"n_chars must reach the parquet scan:\n$plan")
    // skipped-files count: within lang=en the range layout leaves whole
    // files below the 200 cut — a footer-stats reader opens strictly
    // fewer files than exist (the 100 TB payoff: the scan is bounded by
    // the match, not the partition)
    val perFile = spark.read.parquet(s"$dir/lang=en")
      .groupBy(input_file_name().as("f")).agg(max($"n_chars").as("hi"),
        min($"n_chars").as("lo"))
      .collect()
    val total = perFile.length
    val touchable = perFile.count(_.getAs[Long]("hi") > 200L)
    assert(touchable < total,
      s"no file is skippable: $touchable of $total files reach past the cut")
    assert(touchable >= 1)

    // r14 verdict item 7 — keyset CONTINUATION page: with the literal
    // cursor (the last row page 1 served), the continuation predicate
    // must (1) return exactly the oracled page 2, (2) still reach the
    // parquet scan as a pushed filter, and (3) skip the top-of-range
    // files page 1 came from on this range-sorted layout (the reason
    // keyset beats OFFSET at 100 TB).
    val p1 = got.map(_.split(",")) // [doc_id, source, lang, n_chars]
    val lastRow = Registry.byName("an_explorer").run(spark, sfDir)
      .orderBy($"n_chars", $"doc_id".desc).limit(1).collect()(0)
    val (lastChars, lastId) =
      (lastRow.getAs[Long]("n_chars"), lastRow.getAs[Long]("doc_id"))
    val page2 = operators.Analytics.explorerPage(
      CorpusIO.readPartitioned(spark, dir), lastChars, lastId)
    val gotP2 = page2.collect().map(_.toString).toSeq
    val expectP2 = Registry.byName("an_explorer_page").run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(gotP2 === expectP2,
      "literal-cursor keyset page diverged from the oracled page 2")
    val p2Plan = page2.queryExecution.executedPlan.toString
    assert(p2Plan.contains("PushedFilters: [") &&
      p2Plan.split("PushedFilters:")(1).takeWhile(_ != ']').contains("n_chars"),
      s"the continuation predicate must reach the parquet scan:\n$p2Plan")
    // file-skipping payoff: the continuation upper bound (n_chars ≤
    // lastChars) leaves every file whose min is past the cursor
    // untouchable — page 2 can skip files page 1 HAD to read
    val skippableForP2 = perFile.count(_.getAs[Long]("lo") > lastChars)
    assert(skippableForP2 >= 1,
      s"page 2 should skip the top-of-range files (cursor $lastChars): " +
        perFile.map(r => s"[${r.getAs[Long]("lo")},${r.getAs[Long]("hi")}]").mkString(" "))
    assert(p1.nonEmpty)

    // r15 verdict stretch — the MULTI-COLUMN keyset cursor (source ASC,
    // n_chars DESC, doc_id ASC) on a source-leading curated layout: the
    // composite Or-of-Ands continuation must (1) equal the oracled
    // page 2, (2) reach the scan with BOTH cursor columns pushed, and
    // (3) leave the files wholly before the cursor's source skippable.
    val dirMc = tmp("graft_explorer_mc")
    docs.repartitionByRange(16, $"source", $"n_chars")
      .sortWithinPartitions($"source", $"n_chars")
      .write.mode("overwrite").partitionBy("lang").parquet(dirMc)
    val cursorRow = Tables.documents(spark, sfDir)
      .filter($"lang" === "en" && $"n_chars" > 200)
      .orderBy($"source", $"n_chars".desc, $"doc_id")
      .limit(operators.Analytics.ExplorerPageSize)
      .orderBy($"source".desc, $"n_chars", $"doc_id".desc).limit(1)
      .collect()(0)
    val (lSrc, lCh, lId) = (cursorRow.getAs[String]("source"),
      cursorRow.getAs[Long]("n_chars"), cursorRow.getAs[Long]("doc_id"))
    val pageMc = operators.Analytics.explorerPageMc(
      CorpusIO.readPartitioned(spark, dirMc), lSrc, lCh, lId)
    val gotMc = pageMc.collect().map(_.toString).toSeq
    val expectMc = Registry.byName("an_explorer_page_mc").run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(gotMc === expectMc,
      "literal-cursor composite keyset page diverged from the oracled page 2")
    val mcPlan = pageMc.queryExecution.executedPlan.toString
    val mcPushed = mcPlan.split("PushedFilters:")(1).takeWhile(_ != ']')
    assert(mcPushed.contains("source") && mcPushed.contains("n_chars"),
      s"both composite-cursor columns must reach the parquet scan:\n$mcPlan")
    // file-skipping payoff on the source-leading layout: every file
    // whose max source sorts strictly before the cursor's source is
    // untouchable for page 2
    val perFileMc = spark.read.parquet(s"$dirMc/lang=en")
      .groupBy(input_file_name().as("f"))
      .agg(max($"source").as("hiSrc"))
      .collect()
    val skippableMc = perFileMc.count(_.getAs[String]("hiSrc") < lSrc)
    assert(skippableMc >= 1,
      s"page 2 should skip files wholly before source cursor '$lSrc': " +
        perFileMc.map(_.getAs[String]("hiSrc")).sorted.mkString(" "))
  }

  test("z-ordered corpus + deep multi-column keyset cursor: two-dimensional file skipping") {
    // r16 verdict stretch — the last unmade 2l×2b connection: the
    // multi-column keyset explorer over a (n_chars, doc_id) Z-ORDERED
    // corpus layout. A DEEP cursor (last source, low n_chars — the
    // explorer pages n_chars DESC, so late pages live at the bottom of
    // the range) reduces the continuation predicate to
    //   n_chars > 200 AND (n_chars < lc OR (n_chars = lc AND doc_id > li))
    // which prunes in BOTH dimensions under parquet footer stats: a file
    // is touchable only if its n_chars range dips into (200, lc] — and
    // on the lc boundary slice only if its doc_id range passes li. The
    // Morton tiling confines that to a corner of the file grid, while a
    // doc_id-linear layout (every file spans the full n_chars range)
    // can skip nothing.
    import spark.implicits._
    // comparable bit widths for the two interleaved dims (doc_id 14
    // bits; n_chars quantized to 16s over 0..16368) — Morton order
    // degrades to the wider dim's linear order when one dim's high bits
    // dominate
    val rng = new scala.util.Random(7)
    val docs = (1 to 16384).map { i =>
      (i.toLong, s"t$i", "en", "web", rng.nextInt(1024).toLong * 16L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val files = 16
    val zTmp = tmp("graft_zmc"); val linTmp = tmp("graft_zmc_lin")
    CorpusIO.writeZOrdered(docs, s"$zTmp/documents.parquet", "n_chars", "doc_id", files)
    docs.repartitionByRange(files, $"doc_id").sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$linTmp/documents.parquet")
    val (lc, li) = (2048L, 8192L) // deep page: ~11% of the n_chars range left
    // layout invariance: the page is identical from either layout
    val zPage = operators.Analytics.explorerPageMc(
      spark.read.parquet(s"$zTmp/documents.parquet"), "web", lc, li)
    val lPage = operators.Analytics.explorerPageMc(
      spark.read.parquet(s"$linTmp/documents.parquet"), "web", lc, li)
    val zRows = zPage.collect().map(_.toString).toSeq
    assert(zRows === lPage.collect().map(_.toString).toSeq)
    assert(zRows.nonEmpty)
    // both cursor dimensions reach the scan
    val zPlan = zPage.queryExecution.executedPlan.toString
    val zPushed = zPlan.split("PushedFilters:")(1).takeWhile(_ != ']')
    assert(zPushed.contains("n_chars") && zPushed.contains("doc_id"),
      s"both cursor columns must reach the z-ordered scan:\n$zPlan")
    // footer-stats touchability: ranges admit a qualifying row iff they
    // intersect (200, lc) on n_chars, or straddle lc with doc_id past li
    def touched(dir: String): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"n_chars").as("nlo"), max($"n_chars").as("nhi"),
          max($"doc_id").as("dhi"))
        .filter(($"nlo" < lc && $"nhi" > 200L) ||
          ($"nlo" <= lc && $"nhi" >= lc && $"dhi" > li))
        .count()
    val zTouched = touched(s"$zTmp/documents.parquet")
    val linTouched = touched(s"$linTmp/documents.parquet")
    assert(linTouched === files.toLong,
      s"doc_id-linear layout cannot skip the deep page (got $linTouched)")
    assert(zTouched <= files / 2,
      s"z-order should confine the deep page to a tile corner, touched $zTouched of $files")
  }

  test("incremental gate: equals full recompute; re-snapshot yields an empty work list") {
    // The r13-verdict end-to-end story: ops_incremental_gate writes a
    // day-0 corpus, appends a day-1 batch, processes ONLY the
    // manifestDiff work list, and must emit byte-identical verdicts to
    // the full-recompute dd_incremental (the CORRECTNESS gate proves it
    // against DuckDB; this proves it against the sibling operator
    // in-process too).
    val gate = Registry.byName("ops_incremental_gate").run(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val full = Registry.byName("dd_incremental").run(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(gate === full, "file-incremental path diverged from full recompute")
    // the quiet-day property: snapshotting the UNCHANGED corpus again
    // schedules nothing — a daily pipeline that reprocesses anything on
    // a no-op day is broken at 100 TB
    val corpus = operators.Ops.incGateCorpusDir(spark, sfDir)
    val snapA = CorpusIO.manifest(spark, corpus)
    val snapB = CorpusIO.manifest(spark, corpus)
    val statuses = CorpusIO.manifestDiff(snapA, snapB).collect()
      .groupBy(_.getAs[String]("status")).map { case (k, v) => k -> v.length }
    assert(statuses.keySet === Set("unchanged"),
      s"byte-identical re-snapshot must schedule no work, got $statuses")
  }

  test("parallel landing writes: a failed item waits for its running sibling write") {
    // the day/week arcs land each day's files through Ops.inParallel: a
    // failing item must not hand its exception to the caller while a
    // sibling Spark write is still in flight behind it
    val out = java.nio.file.Files.createTempDirectory("graft_par").toString + "/w"
    val started = new java.util.concurrent.CountDownLatch(1)
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      operators.Ops.inParallel(Seq(
        () => {
          started.await()
          throw new IllegalStateException("landing failed")
        },
        () => {
          started.countDown()
          // still running when its sibling throws
          Thread.sleep(300)
          spark.range(1000).write.parquet(out)
          finished.set(true)
        }))
    }
    assert(boom.getMessage === "landing failed")
    assert(finished.get, "the exception reached the caller before the sibling write finished")
    assert(spark.read.parquet(out).count() === 1000L)
  }

  test("parallel landing writes: the first failure is rethrown, later ones suppressed") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      operators.Ops.inParallel(Seq(
        () => { ran.incrementAndGet(); throw new IllegalStateException("first") },
        () => { ran.incrementAndGet() },
        () => { ran.incrementAndGet(); throw new IllegalArgumentException("third") }))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("third"))
    assert(ran.get === 3)
  }

  test("parallel landing writes: a failed item cancels its sibling's running Spark job") {
    // the sibling is inside a job whose natural length is 30 s when its
    // peer throws: the call must cancel that job and return long before
    val sc = spark.sparkContext
    val naturalMs = 30000L
    val t0 = System.nanoTime()
    val boom = intercept[IllegalStateException] {
      operators.Ops.inParallel(Seq(
        () => {
          val deadline = System.nanoTime() + 20000000000L
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
            Thread.sleep(20)
          throw new IllegalStateException("landing failed")
        },
        () => sc.parallelize(1 to 2, 2).foreach { _ =>
          val ctx = org.apache.spark.TaskContext.get()
          val end = System.currentTimeMillis() + naturalMs
          while (!ctx.isInterrupted() && System.currentTimeMillis() < end) Thread.sleep(20)
        }))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(boom.getMessage === "landing failed")
    assert(sec < 10, f"inParallel returned after $sec%.1f s: the sibling's job ran to its end")
    assert(boom.getSuppressed.length === 1, "the cancelled sibling's failure is attached")
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "no job of the call outlives it")
  }
}
