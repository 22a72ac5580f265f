package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Hive-style partitioned layout: writes partition directories and
  * proves partition PRUNING — a filtered read must touch only the
  * matching directories (PartitionFilters at the scan, not a post-scan
  * filter). At 100 TB this is the first line of defense: a lang='en'
  * query over a lang-partitioned corpus never opens the other
  * languages' files.
  */
class PartitioningSpec extends SparkTestBase {

  test("partitioned write prunes directories on filtered read") {
    val dir = Files.createTempDirectory("part").toString + "/docs"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.partitionBy("lang").parquet(dir)

    // layout: one directory per lang value
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
    val langs = docs.select("lang").distinct()
      .collect().map(r => s"lang=${r.getString(0)}").toSet
    assert(langDirs === langs)

    val filtered = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang filter did not reach partition pruning:\n$plan")
    // pruning proof: the scan's file listing covers ONLY the en dir
    val scannedFiles = filtered.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scannedFiles.nonEmpty && scannedFiles.forall(_.contains("lang=en")),
      s"scan read non-matching partitions: ${scannedFiles.take(3).mkString(",")}")

    // correctness unchanged by the layout
    assert(filtered.count() === docs.filter(col("lang") === "en").count())
    // partition column round-trips (moved to directory, restored on read)
    assert(spark.read.parquet(dir).columns.toSet === docs.columns.toSet)
  }

  test("loadPruned skips files via footer min/max; results identical to unpruned") {
    import graft.tables.TableLoader
    val dir = Files.createTempDirectory("pruned").toString + "/docs"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // range-clustered layout: 8 files with near-disjoint doc_id ranges
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id").write.parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 4, s"fixture needs multiple files, got $nFiles")
    val pruned = TableLoader.loadPruned(spark, dir, "doc_id",
      lower = Some(100L), upper = Some(180L))
    val readFiles = pruned.select(input_file_name()).distinct().count()
    assert(readFiles < nFiles,
      s"selective range must skip files: read $readFiles of $nFiles")
    // result identity with the unpruned read + same filter
    val expect = spark.read.parquet(dir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 180L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(pruned.collect().map(_.toSeq).sortBy(_.toString).toSeq
      === expect.toSeq)
    // string column bounds prune lexically too (lang is low-cardinality
    // so every file may contain every lang — identity is the claim)
    val byLang = TableLoader.loadPruned(spark, dir, "lang",
      lower = Some("zz"), upper = None)
    assert(byLang.count()
      === spark.read.parquet(dir).filter(col("lang") >= "zz").count())
    // impossible range: empty result without a full-table scan
    val none = TableLoader.loadPruned(spark, dir, "doc_id",
      lower = Some(-500L), upper = Some(-100L))
    assert(none.count() === 0L)
    assert(none.select(input_file_name()).distinct().count() <= 1L)
  }

  test("loadPruned keeps no-stats files; string bounds compare by UTF-8 bytes") {
    import graft.tables.TableLoader
    import spark.implicits._
    // (a) hasNonNullValue=false means "no min/max recorded", which a
    // stats-disabled writer also produces — such files MUST be kept
    // (the r13 ADVICE high: treating it as all-NULL vanished rows)
    val dirA = Files.createTempDirectory("nostats").toString + "/t"
    Seq((150L, "x"), (160L, "y")).toDF("k", "s")
      .coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(dirA)
    val keptA = TableLoader.loadPruned(spark, dirA, "k",
      lower = Some(100L), upper = Some(200L))
    assert(keptA.count() === 2L, "stats-less file was wrongly pruned")
    // ...while a PROVABLY all-NULL file still prunes (numNulls covers
    // every row): only the non-null file is opened
    val dirN = Files.createTempDirectory("allnull").toString + "/t"
    Seq((None: Option[Long], "n"), (None, "n2")).toDF("k", "s")
      .coalesce(1).write.parquet(dirN)
    Seq((Some(150L): Option[Long], "x")).toDF("k", "s")
      .coalesce(1).write.mode("append").parquet(dirN)
    val keptN = TableLoader.loadPruned(spark, dirN, "k",
      lower = Some(100L), upper = Some(200L))
    assert(keptN.count() === 1L)
    assert(keptN.select(input_file_name()).distinct().count() === 1L,
      "all-NULL file should have been pruned")
    // (b) supplementary-plane codepoints: UTF-16 code units order
    // U+1F600 (surrogates D83D DE00) BELOW U+E000, but parquet stats and
    // Spark's row filter order by UTF-8 bytes (F0 9F 98 80 > EE 80 80).
    // A String.compareTo-based prune would drop this matching file.
    val dirB = Files.createTempDirectory("utf8ord").toString + "/t"
    Seq(("😀", 1L)).toDF("s", "k").coalesce(1).write.parquet(dirB)
    val keptB = TableLoader.loadPruned(spark, dirB, "s",
      lower = Some(""))
    assert(keptB.count() === 1L,
      "UTF-16 bound comparison wrongly pruned a matching file")
    // identity vs the unpruned filtered read on the same predicate
    assert(keptB.count() ===
      spark.read.parquet(dirB).filter(col("s") >= "").count())
  }

  test("mergeIntoParquet deletes emptied partitions (no row resurrection)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mergeempty").toString + "/t"
    val base = Seq((1, 10L, 1.0), (1, 11L, 2.0), (2, 20L, 3.0))
      .toDF("p", "k", "v")
    base.write.partitionBy("p").parquet(dir)
    // the source deletes EVERY row of partition p=1: dynamic overwrite
    // alone would leave p=1's old files in place (zero output rows for
    // that partition) and the deleted rows would resurrect on read
    val source = Seq((1, 10L, -1.0), (1, 11L, -1.0)).toDF("p", "k", "v")
    Graft.mergeIntoParquet(spark, dir, source, on = Seq("p", "k"),
      partitionCols = Seq("p"), whenMatchedDeleteIf = Some(col("v") < 0))
    val got = spark.read.parquet(dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
    assert(got === Set((2, 20L, 3.0)), s"deleted rows resurrected: $got")
    assert(!new java.io.File(s"$dir/p=1").exists(),
      "emptied partition directory must be removed")
  }

  test("mergeIntoParquet: widened partition types never misclassify as emptied") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mergewiden").toString + "/t"
    // one directory value exceeds Int range, so the partition column
    // reads back as LongType for EVERY partition
    Seq((1L, 10L, 1.0), (3000000000L, 20L, 2.0)).toDF("p", "k", "v")
      .write.partitionBy("p").parquet(dir)
    // the source types p as Int — pre-r15 the touched values (Int)
    // compared type-unequal against the merged output's surviving
    // values (Long), Seq(1) != Seq(1L), so p=1 was misclassified as
    // emptied and its freshly rewritten directory deleted (data loss)
    val source = Seq((1, 10L, 9.0)).toDF("p", "k", "v")
    Graft.mergeIntoParquet(spark, dir, source, on = Seq("p", "k"),
      partitionCols = Seq("p"))
    val got = spark.read.parquet(dir).select("k", "v")
      .as[(Long, Double)].collect().toSet
    assert(got === Set((10L, 9.0), (20L, 2.0)),
      s"widened-type merge lost live rows: $got")
    assert(new java.io.File(s"$dir/p=1").exists(),
      "touched-but-surviving partition directory was deleted")
  }

  test("loadPruned: unparsable bound degrades to plain-read behavior") {
    import graft.tables.TableLoader
    import spark.implicits._
    val dir = Files.createTempDirectory("badbound").toString + "/t"
    Seq((150L, "x"), (160L, "y")).toDF("k", "s").coalesce(1).write.parquet(dir)
    // a non-numeric bound against long stats used to abort the whole
    // read with a NumberFormatException at planning time; the pruner is
    // conservative by construction — it must keep the file and behave
    // exactly like the unpruned read with the same predicate
    val pruned = scala.util.Try(
      TableLoader.loadPruned(spark, dir, "k", lower = Some("abc")).count())
    val plain = scala.util.Try(
      spark.read.parquet(dir)
        .filter(org.apache.spark.sql.functions.col("k") >= "abc").count())
    assert(pruned.isSuccess === plain.isSuccess,
      s"pruned=$pruned plain=$plain must agree")
    for (p <- pruned; q <- plain) assert(p === q)
  }

  test("pruning manifest: identical decisions, zero footer opens, stale-safe") {
    import graft.tables.TableLoader
    val dir = Files.createTempDirectory("manifest").toString + "/docs"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id").write.parquet(dir)
    def filesRead(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(input_file_name()).distinct().collect()
        .map(_.getString(0)).toSet
    // footer-path baseline decisions
    val footerFiles = filesRead(TableLoader.loadPruned(spark, dir,
      "doc_id", lower = Some(100L), upper = Some(180L)))
    // write the manifest, then the same query must open ZERO footers
    TableLoader.writePruningManifest(spark, dir, Seq("doc_id", "lang"))
    val before = TableLoader.footerReads.get()
    val viaManifest = TableLoader.loadPruned(spark, dir, "doc_id",
      lower = Some(100L), upper = Some(180L))
    val manifestFiles = filesRead(viaManifest)
    assert(TableLoader.footerReads.get() === before,
      "manifest path must not open any parquet footer")
    // identical pruning decisions AND identical results
    assert(manifestFiles === footerFiles)
    val expect = spark.read.parquet(dir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 180L)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(viaManifest.collect().map(_.toSeq).sortBy(_.toString).toSeq
      === expect)
    // string column via manifest too
    assert(TableLoader.loadPruned(spark, dir, "lang",
        lower = Some("zz")).count()
      === spark.read.parquet(dir).filter(col("lang") >= "zz").count())
    // staleness: a file appended AFTER the manifest write is not
    // listed -> footer fallback keeps it correct (rows must appear)
    val extra = docs.filter(col("doc_id") === 150L)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    extra.coalesce(1).write.mode("append").parquet(dir)
    val afterAppend = TableLoader.loadPruned(spark, dir, "doc_id",
      lower = Some(1000000L), upper = None)
    assert(afterAppend.count() === extra.count(),
      "appended file missing from manifest must fall back, not vanish")
  }

  test("insertIntoParquet appends files; EVERY existing file byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("insappend").toString + "/t"
    val base = Seq((1, 10L, 1.0), (2, 20L, 2.0)).toDF("p", "k", "v")
    base.write.partitionBy("p").parquet(dir)
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified()))
        .toMap
    }
    val before = snapshot()
    // rows land in an existing partition (p=1) AND a new one (p=3);
    // column order intentionally scrambled — insert aligns it
    val rows = Seq((11L, 1, 9.0), (30L, 3, 3.0)).toDF("k", "p", "v")
    Graft.insertIntoParquet(spark, dir, rows, partitionCols = Seq("p"))
    val after = snapshot()
    before.foreach { case (path, sig) =>
      assert(after.get(path).contains(sig), s"existing file changed: $path")
    }
    assert(after.size > before.size, "append must add files")
    val got = spark.read.parquet(dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
    assert(got === Set((1, 10L, 1.0), (2, 20L, 2.0), (1, 11L, 9.0),
      (3, 30L, 3.0)))
  }

  test("mergeIntoParquet rewrites ONLY touched partitions (copy-on-write)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mergecow").toString + "/t"
    // 3 partitions by p; keys carry the partition value (enforced ⊆ on)
    val base = Seq((1, 10L, 1.0), (1, 11L, 2.0), (2, 20L, 3.0),
      (2, 21L, 4.0), (3, 30L, 5.0)).toDF("p", "k", "v")
    base.write.partitionBy("p").parquet(dir)
    def filesOf(p: Int) = {
      val d = new java.io.File(s"$dir/p=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before2 = filesOf(2)
    val before3 = filesOf(3)
    // source touches partitions 1 (update + delete) and 3 (insert) only
    val source = Seq((1, 10L, 99.0), (1, 11L, -1.0), (3, 31L, 6.0))
      .toDF("p", "k", "v")
    Graft.mergeIntoParquet(spark, dir, source, on = Seq("p", "k"),
      partitionCols = Seq("p"),
      whenMatchedDeleteIf = Some(col("v") < 0))
    // untouched partition 2: same files, same mtimes — byte-untouched
    assert(filesOf(2) === before2, "partition p=2 was rewritten")
    // touched partition 3 gained content (rewritten)
    assert(filesOf(3) !== before3, "partition p=3 should have been rewritten")
    // table content equals the logical full-table merge
    val got = spark.read.parquet(dir)
      .select("p", "k", "v").as[(Int, Long, Double)].collect().toSet
    assert(got === Set((1, 10L, 99.0), (2, 20L, 3.0), (2, 21L, 4.0),
      (3, 30L, 5.0), (3, 31L, 6.0)))
    // partition cols outside the key set are rejected loudly
    val e = intercept[IllegalArgumentException](
      Graft.mergeIntoParquet(spark, dir, source, on = Seq("k"),
        partitionCols = Seq("p")))
    assert(e.getMessage.contains("subset"), e.getMessage)
  }

  test("the bare-parquet table pattern composes: COW merge then pruned read") {
    import spark.implicits._
    import graft.tables.TableLoader
    // the Iceberg-mount story without the format: a partitioned table
    // maintained by copy-on-write MERGE stays consumable by the
    // footer-stats pruned read — including the partition column, which
    // explicit-file reads would silently drop without basePath
    val dir = Files.createTempDirectory("cowpruned").toString + "/t"
    val base = (1 to 50).map(i => (i % 5, i.toLong, i * 1.0))
      .toDF("p", "k", "v")
    base.write.partitionBy("p").parquet(dir)
    val source = Seq((2, 12L, 999.0), (2, 102L, 5.0), (4, 14L, -1.0))
      .toDF("p", "k", "v")
    Graft.mergeIntoParquet(spark, dir, source, on = Seq("p", "k"),
      partitionCols = Seq("p"),
      whenMatchedDeleteIf = Some(col("v") < 0))
    val pruned = TableLoader.loadPruned(spark, dir, "k",
      lower = Some(10L), upper = Some(20L))
    assert(pruned.columns.toSet === Set("p", "k", "v"),
      "partition column must survive the explicit-file read")
    val expect = spark.read.parquet(dir)
      .filter(col("k") >= 10L && col("k") <= 20L)
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    assert(pruned.collect().map(_.toSeq.toList).sortBy(_.toString).toList
      === expect)
    // the merge's effects are visible through the pruned read
    val byK = pruned.collect().map(r =>
      r.getLong(r.fieldIndex("k")) -> r.getDouble(r.fieldIndex("v"))).toMap
    assert(byK(12L) == 999.0, "COW update visible")
    assert(!byK.contains(14L), "COW delete visible")
  }

  test("bucketed tables co-locate the join: zero Exchange on the bucket key") {
    // THE 100 TB repeated-join lever: two fact tables bucketed on the
    // same key with the same bucket count join with NO shuffle at all —
    // the layout pre-pays the exchange once at write time. Broadcast is
    // disabled so the planner can't sidestep the demonstration.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source")
    val scores = docs.select(col("doc_id"), length(col("source")).as("s"))
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_scores")
      docs.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable("b_docs")
      scores.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable("b_scores")
      val joined = spark.table("b_docs").join(spark.table("b_scores"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed-by-key join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a merge join over co-located buckets:\n$plan")
      // and the un-bucketed dual DOES shuffle — the layout is the diff
      val unbucketed = docs.join(scores, "doc_id")
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(joined.count() === unbucketed.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_scores")
    }
  }

  test("Versioned: time travel — v1 readable byte-exact after a merge; " +
      "v2 is the merged table; emptied partition needs no delete") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vtt").toString + "/t"
    val base = Seq((1, 10L, 1.0), (1, 11L, 2.0), (2, 20L, 3.0),
      (3, 30L, 4.0)).toDF("p", "k", "v")
    assert(Versioned.create(spark, dir, base, Seq("p")) === 1)
    // merge: update (1,10), delete (2,20) — emptying p=2 — and insert
    // (4,40) into a partition that did not exist before
    val source = Seq((1, 10L, 9.0), (2, 20L, -1.0), (4, 40L, 5.0))
      .toDF("p", "k", "v")
    assert(Versioned.mergeInto(spark, dir, source, on = Seq("p", "k"),
      partitionCols = Seq("p"),
      whenMatchedDeleteIf = Some(col("v") < 0)) === 2)
    assert(Versioned.currentVersion(spark, dir) === Some(2))
    val v1 = Versioned.load(spark, dir, Some(1)).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
    assert(v1 === Set((1, 10L, 1.0), (1, 11L, 2.0), (2, 20L, 3.0),
      (3, 30L, 4.0)), s"v1 must be the pre-merge table: $v1")
    val v2 = Versioned.load(spark, dir, Some(2)).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
    assert(v2 === Set((1, 10L, 9.0), (1, 11L, 2.0), (3, 30L, 4.0),
      (4, 40L, 5.0)), s"v2 must be the merged table: $v2")
    // the emptied partition's FILES are still on disk (history is the
    // mechanism — no directory delete), they're just not in v2's set
    assert(new java.io.File(s"$dir/p=2").exists(),
      "history files must survive the merge")
    // default load = current
    assert(Versioned.load(spark, dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet === v2)
  }

  test("Versioned: snapshot isolation — a reader resolved BEFORE the " +
      "commit sees its version after it; old files stay byte-identical") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("viso").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0), (2, 20L, 2.0)).toDF("p", "k", "v"), Seq("p"))
    def bytes(): Map[String, Array[Byte]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map(f =>
        f.getPath -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    }
    val before = bytes()
    // the concurrent reader: plan resolved against v1's file list
    val reader = Versioned.load(spark, dir, Some(1))
    val merged = Versioned.mergeInto(spark, dir,
      Seq((1, 10L, 9.0), (2, 21L, 8.0)).toDF("p", "k", "v"),
      on = Seq("p", "k"), partitionCols = Seq("p"))
    assert(merged === 2)
    // collect AFTER the commit: still exactly v1 (torn reads impossible
    // because the resolved files are immutable)
    assert(reader.select("p", "k", "v").as[(Int, Long, Double)]
      .collect().toSet === Set((1, 10L, 1.0), (2, 20L, 2.0)))
    // every pre-merge data file is byte-identical (append-only commits)
    val after = bytes()
    before.foreach { case (path, b) =>
      assert(after.contains(path), s"pre-merge file deleted: $path")
      assert(java.util.Arrays.equals(after(path), b),
        s"pre-merge file mutated: $path")
    }
    // commit hygiene: snapshots present, no staging temp left behind
    // (local-FS .crc checksum sidecars are fine)
    val vd = new java.io.File(s"$dir/${Versioned.VersionsDirName}")
    val names = vd.listFiles().map(_.getName).filterNot(_.endsWith(".crc"))
    assert(names.sorted.toSeq === Seq("v000001.json", "v000002.json"))
    assert(!names.exists(_.contains(".tmp")), names.mkString(","))
  }

  test("Versioned: insertInto appends + commits; vacuum keeps the tail " +
      "and fails earlier loads loudly") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vvac").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0)).toDF("p", "k", "v"), Seq("p"))
    assert(Versioned.insertInto(spark, dir,
      Seq((2, 20L, 2.0)).toDF("p", "k", "v"), Seq("p")) === 2)
    assert(Versioned.load(spark, dir, Some(2)).count() === 2L)
    assert(Versioned.load(spark, dir, Some(1)).count() === 1L)
    // a merge that rewrites p=1 strands v1's file for vacuum
    Versioned.mergeInto(spark, dir,
      Seq((1, 10L, 9.0)).toDF("p", "k", "v"),
      on = Seq("p", "k"), partitionCols = Seq("p"))
    val deleted = Versioned.vacuum(spark, dir, keepLast = 1)
    assert(deleted.nonEmpty, "the rewritten p=1 original must be vacuumed")
    // current still reads; vacuumed versions fail loudly, not wrongly
    assert(Versioned.load(spark, dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
      === Set((1, 10L, 9.0), (2, 20L, 2.0)))
    val e = intercept[IllegalArgumentException] {
      Versioned.load(spark, dir, Some(1)).count()
    }
    assert(e.getMessage.contains("vacuum") || e.getMessage.contains("snapshot"),
      e.getMessage)
  }

  test("Versioned: exactly-once streaming sink — each micro-batch is one " +
      "snapshot, replayed batches are skipped, mid-stream versions read") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.tables.Versioned
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("vstream").toString + "/t"
    Versioned.create(spark, dir,
      Seq((0, 0L, 0.0)).toDF("p", "k", "v"), Seq("p"))
    val input = MemoryStream[(Int, Long, Double)]
    val q = input.toDS().toDF("p", "k", "v")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Versioned.insertIntoStreamBatch(spark, dir, b, Seq("p"), id); ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("vstream_ckpt").toString)
      .start()
    input.addData((1, 10L, 1.0))
    q.processAllAvailable()
    input.addData((1, 11L, 2.0), (2, 20L, 3.0))
    q.processAllAvailable()
    q.stop()
    assert(Versioned.currentVersion(spark, dir) === Some(3))
    assert(Versioned.load(spark, dir).count() === 4L)
    // time travel into the stream's history: v2 = after batch 0 only
    assert(Versioned.load(spark, dir, Some(2)).select("k")
      .as[Long].collect().toSet === Set(0L, 10L))
    // replaying an already-committed batch is an exact no-op
    val v = Versioned.insertIntoStreamBatch(spark, dir,
      Seq((9, 90L, 9.0)).toDF("p", "k", "v"), Seq("p"), batchId = 1L)
    assert(v === 3 && Versioned.load(spark, dir).count() === 4L,
      "batch replay must not double-append")
    assert(Versioned.committedBatchId(spark, dir) === Some(1L))
    // a genuinely new batch commits
    assert(Versioned.insertIntoStreamBatch(spark, dir,
      Seq((9, 90L, 9.0)).toDF("p", "k", "v"), Seq("p"), batchId = 2L) === 4)
    assert(Versioned.load(spark, dir).count() === 5L)
    // every other commit carries the stamp forward: replaying batch 2
    // after any DML is still a no-op, never a second append
    val dml: Seq[(String, () => Int)] = Seq(
      "updateWhere" -> (() => Versioned.updateWhere(spark, dir,
        Seq("v" -> lit(7.0)), col("k") === 90L, Seq("p"))),
      "insertInto" -> (() => Versioned.insertInto(spark, dir,
        Seq((8, 80L, 8.0)).toDF("p", "k", "v"), Seq("p"))),
      "mergeInto" -> (() => Versioned.mergeInto(spark, dir,
        Seq((8, 80L, 6.0)).toDF("p", "k", "v"), on = Seq("p", "k"),
        partitionCols = Seq("p"))),
      "deleteWhere" -> (() => Versioned.deleteWhere(spark, dir,
        col("k") === 80L, Seq("p"))))
    dml.foreach { case (op, run) =>
      val v = run()
      val rows = Versioned.load(spark, dir).count()
      assert(Versioned.committedBatchId(spark, dir) === Some(2L),
        s"$op dropped the batch stamp")
      assert(Versioned.insertIntoStreamBatch(spark, dir,
        Seq((9, 91L, 9.0)).toDF("p", "k", "v"), Seq("p"),
        batchId = 2L) === v, s"replay after $op committed")
      assert(Versioned.load(spark, dir).count() === rows,
        s"replay after $op appended the batch twice")
    }
  }

  test("Versioned.loadPruned: snapshot isolation composes with zone-map " +
      "skipping; immutable files keep manifest entries fresh forever") {
    import spark.implicits._
    import graft.tables.{TableLoader, Versioned}
    val dir = Files.createTempDirectory("vprune").toString + "/t"
    // 4 hive partitions × range-clustered files with near-disjoint k
    val base = (0L until 400L).map(k => (k % 4, k, k * 2.0))
      .toDF("p", "k", "v")
    base.repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.partitionBy("p").parquet(dir)
    Versioned.init(spark, dir)
    TableLoader.writePruningManifest(spark, dir, Seq("k"))
    // a merge rewrites the touched partition into NEW files
    Versioned.mergeInto(spark, dir,
      Seq((2, 10L, -1.0), (2, 390L, -1.0)).toDF("p", "k", "v"),
      on = Seq("p", "k"), partitionCols = Seq("p"))
    // v1 pruned == v1 filtered, and it skipped files
    val v1p = Versioned.loadPruned(spark, dir, "k",
      lower = Some(100L), upper = Some(150L), version = Some(1))
    val v1f = Versioned.load(spark, dir, Some(1))
      .filter(col("k") >= 100L && col("k") <= 150L)
    assert(v1p.collect().map(_.toSeq).sortBy(_.toString).toSeq
      === v1f.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    val allV1 = Versioned.load(spark, dir, Some(1))
      .select(input_file_name()).distinct().count()
    val touched = v1p.select(input_file_name()).distinct().count()
    assert(touched < allV1,
      s"selective range must skip v1 files: $touched of $allV1")
    // current version pruned == current filtered (sees the merge)
    val v2p = Versioned.loadPruned(spark, dir, "k",
      lower = Some(10L), upper = Some(10L))
    assert(v2p.select("v").as[Double].collect().toSet === Set(-1.0))
    // pre-merge files are immutable, so the ONE manifest still covers
    // them: pruning v1 again opens no footers for manifest-covered files
    val before = TableLoader.footerReads.get()
    Versioned.loadPruned(spark, dir, "k", lower = Some(100L),
      upper = Some(150L), version = Some(1)).count()
    val opened = TableLoader.footerReads.get() - before
    assert(opened === 0L,
      s"v1 planning must ride the sidecar, opened $opened footers")
  }

  test("Versioned.compact: small files merge into one per partition as " +
      "a NEW snapshot — rows identical, file count drops, time travel " +
      "unaffected, streaming batch stamp carried forward") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vcompact").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0), (2, 20L, 2.0)).toDF("p", "k", "v"), Seq("p"))
    // streaming-cadence accretion: 3 micro-batches = 3 file sets
    (1 to 3).foreach { i =>
      Versioned.insertIntoStreamBatch(spark, dir,
        Seq((1, 100L + i, i.toDouble), (2, 200L + i, i.toDouble))
          .toDF("p", "k", "v"), Seq("p"), batchId = i.toLong)
    }
    assert(Versioned.currentVersion(spark, dir) === Some(4))
    def liveFiles(v: Int): Long =
      Versioned.load(spark, dir, Some(v)).select(input_file_name())
        .distinct().count()
    val preRows = Versioned.load(spark, dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
    val preFiles = liveFiles(4)
    assert(preFiles >= 8L, s"accretion fixture needs many files: $preFiles")
    assert(Versioned.compact(spark, dir,
      targetFileBytes = 1L << 30, partitionCols = Seq("p")) === 5)
    // identical rows, one file per partition dir
    assert(Versioned.load(spark, dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet === preRows)
    assert(liveFiles(5) === 2L, s"expected 2 compacted files, got ${liveFiles(5)}")
    // time travel to the pre-compaction version is untouched
    assert(Versioned.load(spark, dir, Some(4)).count() === preRows.size.toLong)
    assert(liveFiles(4) === preFiles)
    // the batch stamp survived: replaying batch 3 is still a no-op
    assert(Versioned.committedBatchId(spark, dir) === Some(3L))
    assert(Versioned.insertIntoStreamBatch(spark, dir,
      Seq((9, 9L, 9.0)).toDF("p", "k", "v"), Seq("p"), batchId = 3L) === 5)
    // nothing left to compact: no-op mints no version
    assert(Versioned.compact(spark, dir,
      targetFileBytes = 1L << 30, partitionCols = Seq("p")) === 5)
  }

  test("Versioned: stamped commits — a foreign file landing in the " +
      "directory mid-commit is NEVER claimed by the snapshot; a commit " +
      "collision dies loudly") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vstamp").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0)).toDF("p", "k", "v"), Seq("p"))
    // a concurrent (contract-violating) writer's file appears in the
    // listing window: under the old before/after directory diff this
    // row would be silently claimed by the next commit's snapshot
    val foreignSrc = Files.createTempDirectory("vforeign").toString + "/f"
    Seq((1, 666L, 6.66)).toDF("p", "k", "v").drop("p")
      .write.parquet(foreignSrc)
    val part = new java.io.File(foreignSrc).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/p=1/foreign.parquet").toPath)
    assert(Versioned.insertInto(spark, dir,
      Seq((1, 11L, 2.0)).toDF("p", "k", "v"), Seq("p")) === 2)
    // v2 = v1 + own insert; the foreign row is NOT in any snapshot
    assert(Versioned.load(spark, dir).select("k").as[Long]
      .collect().toSet === Set(10L, 11L))
    assert(new java.io.File(s"$dir/p=1/foreign.parquet").exists(),
      "the foreign file is an orphan for vacuum, not deleted here")
    // (the loser-loud half of the contract is the snapshot commit's
    // exists-check + atomic rename: two racers for the same v — a true
    // interleaving this single-threaded test cannot stage — have one
    // rename fail; what the stamp adds, proven above, is that the
    // WINNER's snapshot can never claim the loser's files)
  }

  test("Versioned: non-renderable partition types are rejected loudly " +
      "(timestamp toString diverges from the hive directory rendering)") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vts").toString + "/t"
    val base = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 1.0))
      .toDF("ts", "k", "v")
    Versioned.create(spark, dir, base, Seq("ts"))
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 9.0))
          .toDF("ts", "k", "v"),
        on = Seq("ts", "k"), partitionCols = Seq("ts"))
    }
    assert(e.getMessage.contains("rendering"), e.getMessage)
    // date partitions DO render identically and pass the guard
    val dir2 = Files.createTempDirectory("vdate").toString + "/t"
    Versioned.create(spark, dir2,
      Seq((java.sql.Date.valueOf("2024-01-01"), 1L, 1.0),
        (java.sql.Date.valueOf("2024-01-02"), 2L, 2.0)).toDF("d", "k", "v"),
      Seq("d"))
    assert(Versioned.mergeInto(spark, dir2,
      Seq((java.sql.Date.valueOf("2024-01-01"), 1L, 9.0)).toDF("d", "k", "v"),
      on = Seq("d", "k"), partitionCols = Seq("d")) === 2)
    assert(Versioned.load(spark, dir2).select("v")
      .as[Double].collect().toSet === Set(9.0, 2.0))
  }

  test("Versioned.addColumn: metadata-only schema evolution — old files " +
      "read typed NULLs, time travel returns each version's own schema, " +
      "DML and compaction carry the evolved schema across the boundary") {
    import spark.implicits._
    import graft.tables.Versioned
    import org.apache.spark.sql.types.DoubleType
    val dir = Files.createTempDirectory("vevolve").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0), (2, 20L, 2.0)).toDF("p", "k", "v"), Seq("p"))
    val filesBefore = Versioned.load(spark, dir).inputFiles.toSet
    assert(Versioned.addColumn(spark, dir, "score", DoubleType) === 2)
    // metadata-only: the evolution commit moved NO data
    assert(Versioned.load(spark, dir).inputFiles.toSet === filesBefore)
    // duplicate add (any case) is loud
    intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, dir, "SCORE", DoubleType)
    }
    // v2 presents the evolved schema; no file carries the column yet
    val v2 = Versioned.load(spark, dir)
    assert(v2.columns.toSeq === Seq("k", "v", "p", "score"))
    assert(v2.select("score").as[Option[Double]].collect().toSeq
      === Seq(None, None))
    // an insert AFTER the evolution carries the column; old rows NULL
    assert(Versioned.insertInto(spark, dir,
      Seq((1, 11L, 1.5, 0.9)).toDF("p", "k", "v", "score"), Seq("p")) === 3)
    assert(Versioned.load(spark, dir).select("k", "score")
      .as[(Long, Option[Double])].collect().toSet
      === Set((10L, None), (20L, None), (11L, Some(0.9))))
    // time travel: v1 reads its OWN pre-evolution schema
    assert(!Versioned.load(spark, dir, Some(1)).columns.contains("score"))
    assert(Versioned.load(spark, dir, Some(1)).count() === 2L)
    // mergeInto ACROSS the evolution boundary: the touched partition
    // (mixed old/new files) rewrites correctly, untouched old files
    // still read NULL
    assert(Versioned.mergeInto(spark, dir,
      Seq((1, 10L, 7.0, 0.5)).toDF("p", "k", "v", "score"),
      on = Seq("p", "k"), partitionCols = Seq("p")) === 4)
    val v4rows = Versioned.load(spark, dir)
      .select("k", "v", "score").as[(Long, Double, Option[Double])]
      .collect().toSet
    assert(v4rows === Set((10L, 7.0, Some(0.5)), (11L, 1.5, Some(0.9)),
      (20L, 2.0, None)), v4rows.toString)
    // compaction over mixed-schema directories preserves the evolved
    // rows byte-for-value (a plain read would drop the added column)
    val vc = Versioned.compact(spark, dir,
      targetFileBytes = 1L << 30, partitionCols = Seq("p"))
    assert(Versioned.load(spark, dir, Some(vc))
      .select("k", "v", "score").as[(Long, Double, Option[Double])]
      .collect().toSet === v4rows)
    // updateWhere across the boundary: SET the evolved column itself
    assert(Versioned.updateWhere(spark, dir,
      Seq("score" -> org.apache.spark.sql.functions.lit(0.1)),
      col("k") === 20L, Seq("p")) === vc + 1)
    assert(Versioned.load(spark, dir).select("k", "score")
      .as[(Long, Option[Double])].collect().toSet
      === Set((10L, Some(0.5)), (11L, Some(0.9)), (20L, Some(0.1))))
  }

  test("Versioned.dropColumn/renameColumn: metadata-only — rename " +
      "chains coalesce across file generations, each version time-" +
      "travels its own schema, latent-name reuse is refused; " +
      "expireSnapshots makes old versions loudly unavailable and " +
      "vacuum then reclaims exactly the newly-unreferenced files") {
    import spark.implicits._
    import graft.tables.Versioned
    import org.apache.spark.sql.types.DoubleType
    val dir = Files.createTempDirectory("vdroprename").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0, "x"), (2, 20L, 2.0, "y"))
        .toDF("p", "k", "v", "tag"), Seq("p"))
    val filesBefore = Versioned.load(spark, dir).inputFiles.toSet
    // RENAME v -> amount: no data moves; old files read under the
    // new name
    assert(Versioned.renameColumn(spark, dir, "v", "amount") === 2)
    assert(Versioned.load(spark, dir).inputFiles.toSet === filesBefore)
    assert(Versioned.load(spark, dir).columns.toSeq
      === Seq("k", "amount", "tag", "p"))
    // a post-rename insert writes NEW-name files; both generations
    // read as one column
    assert(Versioned.insertInto(spark, dir,
      Seq((1, 11L, 3.0, "z")).toDF("p", "k", "amount", "tag"),
      Seq("p")) === 3)
    // rename of rename composes through the chain
    assert(Versioned.renameColumn(spark, dir, "amount", "amt") === 4)
    assert(Versioned.load(spark, dir).select("k", "amt")
      .as[(Long, Double)].collect().toSet
      === Set((10L, 1.0), (20L, 2.0), (11L, 3.0)))
    // DROP tag: forward-only — v4 still carries it
    assert(Versioned.dropColumn(spark, dir, "tag") === 5)
    assert(Versioned.load(spark, dir).columns.toSeq
      === Seq("k", "amt", "p"))
    assert(Versioned.load(spark, dir, Some(4)).columns.contains("tag"))
    // time travel reads each version's OWN column names
    assert(Versioned.load(spark, dir, Some(1)).columns.contains("v"))
    assert(Versioned.load(spark, dir, Some(2)).columns.contains("amount"))
    // latent-name reuse is refused while old files carry the bytes
    intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, dir, "tag", DoubleType)
    }
    intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, dir, "v", DoubleType)
    }
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "amt", "v")
    }
    // partition-directory columns are not evolvable
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "p")
    }
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "p", "q")
    }
    // DML across the rename+drop boundary, then retention: the merge
    // strands p=1's two old generations
    assert(Versioned.mergeInto(spark, dir,
      Seq((1, 10L, 9.0)).toDF("p", "k", "amt"),
      on = Seq("p", "k"), partitionCols = Seq("p")) === 6)
    val liveNow = Versioned.load(spark, dir).inputFiles.toSet
    // expire everything but the head: metadata-only, files intact
    assert(Versioned.expireSnapshots(spark, dir, keepLast = 1)
      === Seq(1, 2, 3, 4, 5))
    val e = intercept[IllegalArgumentException] {
      Versioned.load(spark, dir, Some(3))
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
    assert(Versioned.load(spark, dir).inputFiles.toSet === liveNow)
    // vacuum reclaims EXACTLY the newly-unreferenced files: the two
    // p=1 generations the merge replaced, nothing else
    val deleted = Versioned.vacuum(spark, dir, keepLast = 1)
    assert(deleted.size === 2 && deleted.forall(_.startsWith("p=1/")),
      deleted.toString)
    assert(Versioned.load(spark, dir).select("k", "amt")
      .as[(Long, Double)].collect().toSet
      === Set((10L, 9.0), (20L, 2.0), (11L, 3.0)))
  }

  test("Versioned.vacuum: reclaims crashed-commit .stage-* orphans under " +
      "the versions dir, skipping ones newer than the latest snapshot") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vstageorph").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0)).toDF("p", "k", "v"), Seq("p"))
    // a crashed commit's staging leftovers, older than the next snapshot
    val orphan = new java.io.File(s"$dir/_graft_versions/.stage-deadbeef")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-0.parquet").toPath, Array[Byte](1))
    Thread.sleep(1100) // beat coarse mtime granularity
    Versioned.insertInto(spark, dir,
      Seq((1, 11L, 2.0)).toDF("p", "k", "v"), Seq("p"))
    Thread.sleep(1100)
    // an in-flight writer's staging dir: NEWER than the latest snapshot
    val inflight = new java.io.File(s"$dir/_graft_versions/.stage-cafebabe")
    assert(inflight.mkdirs())
    val deleted = Versioned.vacuum(spark, dir, keepLast = 2)
    assert(!orphan.exists(), "dead staging dir must be reclaimed")
    assert(inflight.exists(), "in-flight staging dir must survive")
    assert(deleted.exists(_.contains(".stage-deadbeef")), deleted.toString)
    assert(!deleted.exists(_.contains(".stage-cafebabe")))
    // the table itself is untouched
    assert(Versioned.load(spark, dir).count() === 2L)
  }

  test("Versioned.vacuum: skips unreferenced files NEWER than the latest " +
      "snapshot (in-flight writer safety margin) while reclaiming " +
      "genuinely dead ones") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vvacsafe").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0)).toDF("p", "k", "v"), Seq("p"))
    Versioned.mergeInto(spark, dir,
      Seq((1, 10L, 9.0)).toDF("p", "k", "v"),
      on = Seq("p", "k"), partitionCols = Seq("p"))
    // an in-flight commit's freshly-moved file: unreferenced AND newer
    // than the latest snapshot (sleep beats coarse mtime granularity)
    Thread.sleep(1100)
    val inflight = new java.io.File(s"$dir/p=1/gfffa-inflight.parquet")
    java.nio.file.Files.write(inflight.toPath, Array[Byte](1, 2, 3))
    val deleted = Versioned.vacuum(spark, dir, keepLast = 1)
    assert(deleted.nonEmpty, "v1's rewritten original must be reclaimed")
    assert(inflight.exists(),
      "a file newer than the latest snapshot must survive vacuum")
    assert(!deleted.exists(_.contains("inflight")))
  }

  test("Versioned.updateWhere/deleteWhere + SQL facades: persisted ANSI " +
      "semantics, partition confinement, no-op mints no version") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vupd").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, 10L, 1.0), (1, 11L, 2.0), (2, 20L, 3.0), (3, 30L, 4.0))
        .toDF("p", "k", "v"), Seq("p"))
    def fileOf(p: Int): Set[String] =
      new java.io.File(s"$dir/p=$p").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val p3Before = fileOf(3)
    // UPDATE through the SQL facade: only p=1 and p=2 contain matches
    assert(graft.Graft.updateSqlVersioned(spark,
      "UPDATE t SET v = v + 10.0 WHERE k % 10 = 0 AND p < 3",
      dir, Seq("p")) === 2)
    assert(Versioned.load(spark, dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
      === Set((1, 10L, 11.0), (1, 11L, 2.0), (2, 20L, 13.0), (3, 30L, 4.0)))
    // untouched partition kept its exact file set (confinement)
    assert(fileOf(3) === p3Before)
    // time travel: v1 is the pre-update table
    assert(Versioned.load(spark, dir, Some(1)).select("v")
      .as[Double].collect().toSet === Set(1.0, 2.0, 3.0, 4.0))
    // ANSI: every SET RHS sees the PRE-update row (swap works)
    val dir2 = Files.createTempDirectory("vswap").toString + "/t"
    Versioned.create(spark, dir2,
      Seq((1, 5L, 7.0)).toDF("p", "k", "v"), Seq("p"))
    Versioned.updateWhere(spark, dir2,
      Seq("k" -> col("v").cast("long"), "v" -> col("k").cast("double")),
      lit(true), Seq("p"))
    assert(Versioned.load(spark, dir2).select("k", "v")
      .as[(Long, Double)].collect().toSet === Set((7L, 5.0)))
    // no-op UPDATE returns the current version unchanged
    assert(Versioned.updateWhere(spark, dir,
      Seq("v" -> lit(0.0)), col("k") === 999L, Seq("p")) === 2)
    // SET on a partition column is loud
    val e = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir,
        Seq("p" -> lit(9)), lit(true), Seq("p"))
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    // DELETE through the facade: empties p=2 entirely; v grows to 3
    assert(graft.Graft.deleteSqlVersioned(spark,
      "DELETE FROM t WHERE p = 2 OR k = 11", dir, Seq("p")) === 3)
    assert(Versioned.load(spark, dir).select("p", "k", "v")
      .as[(Int, Long, Double)].collect().toSet
      === Set((1, 10L, 11.0), (3, 30L, 4.0)))
    // the emptied partition's files survive on disk for history
    assert(new java.io.File(s"$dir/p=2").exists())
    assert(Versioned.load(spark, dir, Some(2)).count() === 4L)
    // ANSI NULL-condition rows SURVIVE a delete
    val dir3 = Files.createTempDirectory("vdelnull").toString + "/t"
    Versioned.create(spark, dir3,
      Seq((1, Some(1.0)), (2, None), (3, Some(3.0)))
        .toDF("k", "x"), Nil)
    Versioned.deleteWhere(spark, dir3, col("x") > 2.0)
    assert(Versioned.load(spark, dir3).select("k").as[Int]
      .collect().toSet === Set(1, 2))
  }

  test("Versioned: contract guards — partitionCols ⊆ on; unversioned " +
      "dirs refuse load; double init refuses") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vguard").toString + "/t"
    Seq((1, 10L, 1.0)).toDF("p", "k", "v").write.partitionBy("p").parquet(dir)
    intercept[RuntimeException] { Versioned.load(spark, dir) }
    assert(Versioned.init(spark, dir) === 1)
    intercept[IllegalArgumentException] { Versioned.init(spark, dir) }
    intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        Seq((1, 10L, 2.0)).toDF("p", "k", "v"),
        on = Seq("k"), partitionCols = Seq("p"))
    }
  }

  test("Versioned.dropColumn/renameColumn: the partition-column guard " +
      "matches whole path segments — 'k' is not partition column 'pk'") {
    import spark.implicits._
    import graft.tables.Versioned
    val dir = Files.createTempDirectory("vsegment").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1, "a", 10L, 1.0, 5), (2, "b", 20L, 2.0, 6))
        .toDF("pk", "pv", "k", "v", "w"), Seq("pk", "pv"))
    // 'k' and 'v' are substrings of the segments 'pk=1' and 'pv=a', but
    // they are data columns and evolve like any other
    assert(Versioned.dropColumn(spark, dir, "k") === 2)
    assert(Versioned.renameColumn(spark, dir, "v", "value") === 3)
    assert(Versioned.load(spark, dir).columns.toSeq
      === Seq("value", "w", "pk", "pv"))
    assert(Versioned.load(spark, dir).select("pk", "value")
      .as[(Int, Double)].collect().toSet === Set((1, 1.0), (2, 2.0)))
    // the real partition columns stay refused, in any case
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "pk")
    }
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "PV", "q")
    }
  }

  test("Versioned: a snapshot without a schema field (written before " +
      "schemas were recorded) still loads; the next commit records it") {
    import spark.implicits._
    import graft.tables.Versioned
    import org.apache.spark.sql.types.{DataType, StructType}
    val dir = Files.createTempDirectory("vlegacy").toString + "/t"
    Seq((1, 10L, 1.0), (2, 20L, 2.0)).toDF("p", "k", "v")
      .write.partitionBy("p").parquet(dir)
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val entries = walk(root).map(f =>
      s"""{"path":"${root.toURI.relativize(f.toURI).getPath}",""" +
        s""""len":${f.length}}""")
    val vd = new java.io.File(root, Versioned.VersionsDirName)
    assert(vd.mkdirs())
    Files.write(new java.io.File(vd, "v000001.json").toPath,
      s"""{"version":1,"files":[${entries.mkString(",")}]}"""
        .getBytes("UTF-8"))
    val v1 = Versioned.load(spark, dir)
    assert(v1.columns.toSeq === Seq("k", "v", "p"))
    assert(v1.select("p", "k", "v").as[(Int, Long, Double)].collect().toSet
      === Set((1, 10L, 1.0), (2, 20L, 2.0)))
    assert(Versioned.insertInto(spark, dir,
      Seq((3, 30L, 3.0)).toDF("p", "k", "v"), Seq("p")) === 2)
    val doc = org.json4s.jackson.JsonMethods.parse(new String(
      Files.readAllBytes(new java.io.File(vd, "v000002.json").toPath),
      "UTF-8"))
    val recorded = (doc \ "schema") match {
      case org.json4s.JString(json) =>
        DataType.fromJson(json).asInstanceOf[StructType]
      case other => fail(s"v2 carries no schema: $other")
    }
    assert(recorded.fields.map(f => f.name -> f.dataType).toSeq
      === v1.schema.fields.map(f => f.name -> f.dataType).toSeq)
    assert(Versioned.load(spark, dir).count() === 3L)
  }

  /** Spark jobs `body` submits, counted through a job group. A marker
    * job in a second group follows it; once the status store shows
    * the marker, it holds every earlier job too (the listener bus
    * delivers events in order). */
  private def jobsOf(body: => Any): Int = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds), interval(20.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("Versioned: job budgets — building a load submits no Spark job; " +
      "the time-travel and delete shapes run pinned job counts") {
    import graft.tables.Versioned
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // the q_time_travel shape: create, a three-clause merge, two loads
    val tt = Files.createTempDirectory("vjobs").toString + "/tt"
    val ttCreate = jobsOf(Versioned.create(spark, tt, orders,
      Seq("o_orderstatus")))
    assert(jobsOf(Versioned.load(spark, tt)) === 0,
      "building a load must plan from the snapshot alone")
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .unionByName(orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("N")))
    val ttMerge = jobsOf(Versioned.mergeInto(spark, tt, src,
      on = Seq("o_orderkey", "o_orderstatus"),
      partitionCols = Seq("o_orderstatus"),
      whenMatchedDeleteIf = Some(col("o_orderkey") % 20 === 0)))
    val ttLoads = jobsOf {
      Versioned.load(spark, tt, Some(1))
      Versioned.load(spark, tt, Some(2))
    }
    assert((ttCreate, ttMerge, ttLoads) === ((2, 6, 0)),
      "time-travel shape jobs (create, mergeInto, two loads)")
    // the q_delete_sql shape: create, a partition-confined delete, load
    val del = Files.createTempDirectory("vjobs").toString + "/del"
    val delCreate = jobsOf(Versioned.create(spark, del, orders,
      Seq("o_orderstatus")))
    val delDelete = jobsOf(Versioned.deleteWhere(spark, del,
      col("o_orderstatus") === "P" || col("o_totalprice") > 200000,
      Seq("o_orderstatus")))
    val delLoad = jobsOf(Versioned.load(spark, del, Some(2)))
    assert((delCreate, delDelete, delLoad) === ((2, 3, 0)),
      "delete shape jobs (create, deleteWhere, load)")
  }
}
