package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Snapshot-versioned bare-parquet tables: time travel + snapshot
  * isolation for the DML surface (r14 verdict item 2).
  *
  * The COW facade ([[graft.Graft.mergeIntoParquet]]) rewrites touched
  * partition directories IN PLACE, so a reader concurrent with a merge
  * can see a torn table and "read as of before that merge" is
  * impossible. This layer is the Iceberg/Delta snapshot idea without
  * the table format:
  *
  *   - Data files are IMMUTABLE once written; mutations only ever ADD
  *     files (append-mode writes — never dynamic overwrite, never a
  *     directory delete).
  *   - A snapshot `_graft_versions/v{N}.json` holds everything version
  *     N is: the files LIVE at N (relative path + length), the declared
  *     schema (data columns, then hive partition columns), the rename
  *     chains of renamed columns, and the streaming batch stamp. The
  *     snapshot file is staged to a temp name and RENAMED into place —
  *     one atomic commit after every data file is fully written, so no
  *     reader can resolve a version whose files are incomplete.
  *   - Every commit copies the current snapshot with the next version
  *     number and whatever the operation changes, so the schema,
  *     renames and batch stamp carry forward by construction. Because
  *     the schema is declared, a read builds its plan from the snapshot
  *     alone — no footer is opened to plan it.
  *   - The current version is simply the max N present — no separate
  *     pointer file to swap (a pointer overwrite is delete+create on
  *     HDFS-semantics filesystems, which has a torn window; max-N
  *     needs none).
  *   - Readers resolve a snapshot once and then read only immutable
  *     files → a reader concurrent with any number of commits sees
  *     exactly the version it resolved, never a mix (snapshot
  *     isolation). [[vacuum]] is the only destructive operation and
  *     is an explicit, retention-bounded admin step.
  *
  * Contract: ONE writer at a time (commits are serialized by the
  * caller — this layer adds no lock; two concurrent writers could
  * both stage v{N+1} and one rename would fail loudly, not corrupt),
  * any number of readers. Every commit's data files are STAMPED with
  * a commit-unique prefix and the snapshot is built from the stamp —
  * never from a before/after directory diff — so even when the
  * single-writer contract is violated, the loser's files can never be
  * silently claimed by the winner's snapshot: the winner's snapshot
  * contains exactly its own files and the loser dies on the v-rename
  * collision, leaving only unreferenced orphans for [[vacuum]].
  * [[vacuum]] itself must be serialized WITH the writer (it is part
  * of the one-writer contract, not exempt from it): it deletes
  * unreferenced data files, and an in-flight commit's freshly-moved
  * files are exactly that until the snapshot renames into place. As a
  * safety margin it additionally skips unreferenced files newer than
  * the latest committed snapshot, so a vacuum racing a writer (a
  * contract violation) leaves the in-flight files alone.
  * A versioned table must be read through
  * [[load]] — a plain directory read sees every generation of every
  * row and is NOT the table (the directory stopped being the source
  * of truth the moment the first commit kept history).
  *
  * Scale shape: commits touch O(files-in-touched-partitions) metadata
  * entries and the snapshot JSON is one driver-sized sidecar (the
  * [[TableLoader.writePruningManifest]] cost class — at 100k files
  * it replaces 100k-file directory listings per read with one small
  * read). Data movement is exactly the COW merge's: only touched
  * partitions are rewritten, as NEW files.
  */
object Versioned {

  val VersionsDirName = "_graft_versions"

  /** One committed version. `renames` maps a declared column name to
    * the CHAIN of prior physical names still present in older live
    * files, newest first (a→b→c stores "c" -> ["b", "a"]); `batchId`
    * is the last micro-batch the streaming sink committed — the
    * idempotence marker for replay skipping. */
  private final case class Snapshot(version: Int, files: Seq[(String, Long)],
      schema: StructType, renames: Map[String, Seq[String]] = Map.empty,
      batchId: Option[Long] = None)

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsDir(root: Path) = new Path(root, VersionsDirName)

  private def snapshotPath(root: Path, v: Int) =
    new Path(versionsDir(root), f"v$v%06d.json")

  private val SnapRe = """v(\d{6})\.json""".r

  /** Recursive data-file listing: relPath -> length. Skips dotfiles,
    * underscore sidecars (_SUCCESS, the pruning manifest) and the
    * versions dir itself. */
  private def dataFiles(fs: FileSystem, root: Path): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    // qualify the root: listFiles returns scheme-qualified paths, and
    // URI.relativize against a schemeless root silently returns the
    // FULL uri instead of a relative path
    val qroot = fs.makeQualified(root).toUri
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = qroot.relativize(st.getPath.toUri).getPath
      val name = st.getPath.getName
      if (!rel.startsWith(VersionsDirName) && !name.startsWith("_")
          && !name.startsWith(".") && name.endsWith(".parquet"))
        b += rel -> st.getLen
    }
    b.result()
  }

  /** Committed version numbers, ascending; empty for an unversioned
    * directory. */
  private def versions(fs: FileSystem, root: Path): Seq[Int] = {
    val vd = versionsDir(root)
    if (!fs.exists(vd)) Nil
    else fs.listStatus(vd).toSeq.map(_.getPath.getName).collect {
      case SnapRe(n) => n.toInt
    }.sorted
  }

  /** Max committed version, or None for an unversioned directory. */
  def currentVersion(spark: SparkSession, path: String): Option[Int] = {
    val root = new Path(path)
    versions(fsOf(spark, root), root).lastOption
  }

  /** The schema a plain read of `files` infers from their footers (one
    * Spark job): data columns, then hive partition columns with their
    * types as discovered. */
  private def inferSchema(spark: SparkSession, root: Path,
      files: Seq[(String, Long)]): StructType =
    spark.read.option("basePath", root.toString)
      .option("mergeSchema", "false")
      .parquet(files.map(f => new Path(root, f._1).toString): _*).schema

  /** Snapshot v — the only parser of the snapshot document. A snapshot
    * written before schemas were recorded has no `schema` field; its
    * schema is inferred from its files here (and the next commit
    * records it), which is the only place that fallback lives. */
  private def readSnapshot(spark: SparkSession, root: Path,
      v: Int): Snapshot = {
    import org.json4s._
    val fs = fsOf(spark, root)
    val p = snapshotPath(root, v)
    require(fs.exists(p), s"Versioned: no snapshot v$v at $root " +
      "(wrong version, or expired/vacuumed past it)")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val doc = org.json4s.jackson.JsonMethods.parse(txt)
    val files = (doc \ "files") match {
      case JArray(fsx) => fsx.flatMap { e =>
        for {
          JString(rel) <- Option(e \ "path")
          JInt(len) <- Option(e \ "len")
        } yield rel -> len.toLong
      }
      case _ => sys.error(s"Versioned: unparseable snapshot v$v at $root")
    }
    val renames = (doc \ "renames") match {
      case JArray(es) => es.flatMap { e =>
        for { JString(to) <- Option(e \ "to") } yield {
          val chain = (e \ "from") match {
            case JArray(cs) => cs.collect { case JString(s) => s }
            case _ => Nil
          }
          to -> chain
        }
      }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    val schema = (doc \ "schema") match {
      case JString(json) => DataType.fromJson(json).asInstanceOf[StructType]
      // an emptied snapshot has no file to infer from; reading it
      // fails on the empty-version require
      case _ if files.isEmpty => new StructType()
      case _ => inferSchema(spark, root, files)
    }
    val batchId = (doc \ "batchId") match {
      case JInt(b) => Some(b.toLong)
      case _ => None
    }
    Snapshot(v, files, schema, renames, batchId)
  }

  /** Snapshot `version` (default: the current one) of the table at
    * `path`; a loud error naming `op` for an unversioned directory. */
  private def snapshotOf(spark: SparkSession, path: String, op: String,
      version: Option[Int] = None): Snapshot = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      sys.error(s"Versioned.$op: $path is not a versioned table"))
    readSnapshot(spark, new Path(path), v)
  }

  /** Stage + atomic-rename commit of `snap` — the only writer of the
    * snapshot document. Fails loudly if its version already exists (a
    * concurrent writer won the commit). Returns the committed version.
    */
  private def commit(spark: SparkSession, root: Path, snap: Snapshot): Int = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val v = snap.version
    val doc = ("version" -> v) ~
      ("files" -> snap.files.sortBy(_._1).map { case (p, l) =>
        ("path" -> p) ~ ("len" -> l) }) ~
      ("schema" -> snap.schema.json) ~
      ("renames" -> snap.renames.toSeq.sortBy(_._1)
        .map { case (to, chain) => ("to" -> to) ~ ("from" -> chain) }) ~
      ("batchId" -> snap.batchId)
    val fs = fsOf(spark, root)
    val vd = versionsDir(root)
    if (!fs.exists(vd)) fs.mkdirs(vd)
    val target = snapshotPath(root, v)
    require(!fs.exists(target),
      s"Versioned: snapshot v$v already exists at $root — concurrent " +
        "writer? commits must be serialized")
    val tmp = new Path(vd, f".v$v%06d.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(JsonMethods.compact(JsonMethods.render(doc))
      .getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, target),
      s"Versioned: atomic commit rename failed for $target")
    v
  }

  /** Output sizing for versioned writes (r19, guide §6 small-files):
    * target ~128 MB files by DERIVED partition count — the
    * optimizer's size estimate over the write target, never the
    * session's shuffle/core count (a 32-partition local session was
    * writing 32 tiny files + 32 commit renames per small delta, and
    * every later load paid the listing + footer opens). Only ever
    * REDUCES the partition count (coalesce; an over-estimate just
    * keeps more, still well-sized files), and leaves frames with no
    * usable estimate untouched, so a 100 TB write keeps its natural
    * parallelism. */
  private def sizedForWrite(df: DataFrame): DataFrame = {
    val target = 128L * 1024 * 1024
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= BigInt(0) || bytes >= BigInt(Long.MaxValue / 4)) df
    else {
      val want = ((bytes + target - 1) / target)
        .min(BigInt(1 << 20)).toInt.max(1)
      // coalesce never INCREASES partitions, so no current-count probe
      // (df.rdd.getNumPartitions could execute AQE stages)
      df.coalesce(want)
    }
  }

  /** Append `df`'s rows as STAMPED new files: the write goes to a
    * private staging dir under the versions dir (invisible to data
    * listings and plain reads), then each data file is MOVED into the
    * table under a commit-unique name prefix. The commit's file set
    * is therefore known exactly — never inferred from a before/after
    * directory diff — so a concurrent writer's files (a violated
    * single-writer contract) can never be silently claimed by this
    * commit's snapshot. Returns (relPath, len) of the moved files.
    */
  private def stampedAppend(fs: FileSystem, root: Path,
      df: DataFrame, partitionCols: Seq[String]): Seq[(String, Long)] = {
    val stamp = java.util.UUID.randomUUID().toString
      .replace("-", "").take(16)
    val stage = new Path(versionsDir(root), s".stage-$stamp")
    val w = sizedForWrite(df).write.mode("errorifexists")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(stage.toString)
    val staged = dataFiles(fs, stage).toSeq.sortBy(_._1)
    val moved = staged.map { case (rel, len) =>
      val slash = rel.lastIndexOf('/')
      val (dirRel, name) =
        if (slash < 0) ("", rel)
        else (rel.substring(0, slash), rel.substring(slash + 1))
      val destDir = if (dirRel.isEmpty) root else new Path(root, dirRel)
      if (!fs.exists(destDir)) fs.mkdirs(destDir)
      val destName = s"g$stamp-$name"
      val dest = new Path(destDir, destName)
      require(fs.rename(new Path(stage, rel), dest),
        s"Versioned: stamped move failed for $dest")
      (if (dirRel.isEmpty) destName else s"$dirRel/$destName") -> len
    }
    fs.delete(stage, true)
    moved
  }

  /** Partition-column types whose JVM `Row.get(i).toString` rendering
    * is IDENTICAL to Spark's hive partition-directory rendering.
    * [[mergeInto]]/[[updateWhere]]/[[deleteWhere]] re-render touched
    * partition VALUES to path prefixes to drop a touched partition's
    * old files from the new snapshot — for a type whose toString
    * diverges (java.sql.Timestamp renders `2024-01-01 00:00:00.0` but
    * the directory says `2024-01-01 00%3A00%3A00`; Double `1.0E7` vs
    * `1.0E7`-vs-plain disagreements; BigDecimal scale), the prefix
    * would never match and the new snapshot would SILENTLY keep both
    * the old and the rewritten files — duplicated rows in a committed
    * snapshot. Hence: loud require, not a silent wrong table.
    */
  private def requireRenderablePartitionTypes(
      schema: StructType, partitionCols: Seq[String], op: String): Unit = {
    import org.apache.spark.sql.types._
    val ok: Set[DataType] =
      Set(StringType, IntegerType, LongType, ShortType, ByteType,
        BooleanType, DateType)
    val bad = partitionCols.filterNot(c => ok.contains(schema(c).dataType))
    require(bad.isEmpty,
      s"Versioned.$op: partition column(s) ${bad.mkString(",")} have " +
        s"type(s) ${bad.map(c => schema(c).dataType.simpleString).mkString(",")} " +
        "whose JVM rendering differs from Spark's partition-directory " +
        "rendering — the touched-partition file drop would silently " +
        "keep stale files (duplicated rows). Partition on " +
        "string/int/long/short/byte/boolean/date, or derive a " +
        "renderable partition key (e.g. date_format the timestamp)")
  }

  /** Whether `name` is a hive partition-directory column of `snap`:
    * some live file sits under a directory segment `name=...`. */
  private def isPartitionColumn(snap: Snapshot, name: String): Boolean = {
    val prefix = s"${name.toLowerCase}="
    snap.files.exists(_._1.split('/').init
      .exists(_.toLowerCase.startsWith(prefix)))
  }

  /** `df`'s columns cast into `sc`'s order and types. */
  private def castTo(df: DataFrame, sc: StructType): DataFrame =
    df.select(sc.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  /** Read `paths` (some of `snap`'s files) as `snap`'s declared schema —
    * the one read path behind [[load]], [[loadPruned]] and
    * [[compact]]. Snapshots can mix file schemas (evolution moves no
    * data), so the read schema is BUILT from the declared schema plus
    * rename chains rather than inferred from footers: sound because
    * this layer is the only writer and no operation changes a field's
    * type, so every physical name in a chain was written with its
    * field's declared type. A name no file carries reads as typed
    * NULLs, and dropped columns are simply not requested. A renamed
    * column then coalesces across its physical-name chain (each file
    * carries exactly one of the names, so the coalesce is a disjoint
    * union, never a preference); columns come out in declared order.
    */
  private def read(spark: SparkSession, root: Path, snap: Snapshot,
      paths: Seq[String]): DataFrame = {
    val chain = (f: StructField) => f.name +: snap.renames.getOrElse(f.name, Nil)
    val readFields = snap.schema.fields.toSeq.flatMap(f =>
      chain(f).map(n => StructField(n, f.dataType, nullable = true)))
    spark.read.schema(StructType(readFields))
      .option("basePath", root.toString)
      .parquet(paths: _*)
      .select(snap.schema.fields.map(f => chain(f) match {
        case Seq(one) => col(one)
        case names => coalesce(names.map(col): _*).as(f.name)
      }).toIndexedSeq: _*)
  }

  /** `snap`'s files as paths, after a loud check that each is still on
    * disk at its recorded length. */
  private def livePaths(spark: SparkSession, root: Path, snap: Snapshot,
      op: String): Seq[String] = {
    val fs = fsOf(spark, root)
    require(snap.files.nonEmpty,
      s"Versioned.$op: v${snap.version} of $root is empty — zero live " +
        "files; read an earlier version")
    snap.files.map { case (rel, len) =>
      val p = new Path(root, rel)
      require(fs.exists(p) && fs.getFileStatus(p).getLen == len,
        s"Versioned.$op: $rel of v${snap.version} is missing or resized — " +
          "vacuumed past this version, or immutability was violated")
      p.toString
    }
  }

  private def loadSnapshot(spark: SparkSession, root: Path, snap: Snapshot,
      op: String): DataFrame =
    read(spark, root, snap, livePaths(spark, root, snap, op))

  /** ADD COLUMN schema evolution (r16 verdict item 4): commit a new
    * snapshot whose FILE LIST is unchanged but whose declared schema
    * gains `name` (nullable) at the end. No data moves — old files
    * simply read the column as typed NULL, files written by later
    * commits carry it, and a mixed snapshot reads both seamlessly.
    * Time travel returns each version's OWN schema: versions before
    * the evolution read without the column, versions after read with
    * it. Returns the committed version.
    *
    * Scale shape: a metadata-only commit — one sidecar JSON write; a
    * 100 TB table evolves in O(1).
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: DataType): Int = {
    val root = new Path(path)
    val cur = snapshotOf(spark, path, "addColumn")
    val cols = cur.schema.fieldNames
    require(!cols.exists(_.equalsIgnoreCase(name)),
      s"Versioned.addColumn: column '$name' already exists " +
        s"(table has ${cols.mkString(",")})")
    // with DROP/RENAME in the system, live files can carry LATENT
    // columns the declared schema no longer names — adding a column
    // under such a name would silently resurrect the old values
    requireNoLatentCollision(spark, root, cur, name, "addColumn")
    commit(spark, root, cur.copy(version = cur.version + 1,
      schema = cur.schema.add(name, dataType, nullable = true)))
  }

  /** Every physical column name the snapshot's live files carry plus
    * every rename-chain source — the collision surface for
    * [[addColumn]]/[[renameColumn]]. One footer-merge schema read,
    * no data scan. */
  private def requireNoLatentCollision(spark: SparkSession, root: Path,
      snap: Snapshot, name: String, op: String): Unit = {
    val chainNames = snap.renames.values.flatten.map(_.toLowerCase).toSet
    val fileCols =
      if (snap.files.isEmpty) Set.empty[String]
      else spark.read.option("basePath", root.toString)
        .option("mergeSchema", "true")
        .parquet(snap.files.map(f => new Path(root, f._1).toString): _*)
        .schema.fieldNames.map(_.toLowerCase).toSet
    require(!chainNames.contains(name.toLowerCase)
        && !fileCols.contains(name.toLowerCase),
      s"Versioned.$op: live files still carry latent data under " +
        s"'$name' (a dropped or renamed-away column) — reusing the " +
        "name would resurrect old values; pick another name, or " +
        "compact + vacuum the old files away first")
  }

  /** DROP COLUMN schema evolution (r17 verdict item 6): commit a new
    * snapshot with the SAME file list and the declared schema minus
    * `name` — a metadata-only commit, O(1) at any table size. Old
    * files keep the bytes (history: earlier versions still read the
    * column; [[vacuum]]/[[compact]] eventually reclaim them); reads
    * of the new version simply never select it. Re-adding the same
    * name is refused while any live file still carries the latent
    * data (the [[addColumn]] guard). Hive partition-directory columns
    * cannot drop — basePath recovery and the touched-partition commit
    * math key on them. Returns the committed version.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Int = {
    val cur = snapshotOf(spark, path, "dropColumn")
    val cols = cur.schema.fieldNames
    require(cols.exists(_.equalsIgnoreCase(name)),
      s"Versioned.dropColumn: no column '$name' " +
        s"(table has ${cols.mkString(",")})")
    require(cols.length >= 2,
      "Versioned.dropColumn: cannot drop the last column")
    require(!isPartitionColumn(cur, name),
      s"Versioned.dropColumn: '$name' is a hive partition-directory " +
        "column — partition layout is not evolvable in place")
    commit(spark, new Path(path), cur.copy(version = cur.version + 1,
      schema = StructType(cur.schema.filterNot(_.name.equalsIgnoreCase(name))),
      renames = cur.renames.filterNot(_._1.equalsIgnoreCase(name))))
  }

  /** RENAME COLUMN schema evolution (r17 verdict item 6): commit a
    * new snapshot whose declared schema carries `to` in `from`'s
    * place and whose rename map records the physical-name CHAIN
    * (rename of rename composes), so [[load]] reads old files'
    * `from` data and new files' `to` data as ONE column — per file
    * exactly one of the names exists, so the coalesce is a disjoint
    * union. Metadata-only, O(1) at any table size; later data commits
    * write files under the new name. Renaming onto a latent file
    * column is refused (the resurrect guard); hive partition columns
    * cannot rename. Returns the committed version.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Int = {
    val root = new Path(path)
    val cur = snapshotOf(spark, path, "renameColumn")
    val cols = cur.schema.fieldNames
    require(cols.exists(_.equalsIgnoreCase(from)),
      s"Versioned.renameColumn: no column '$from' " +
        s"(table has ${cols.mkString(",")})")
    require(!cols.exists(_.equalsIgnoreCase(to)),
      s"Versioned.renameColumn: target '$to' already exists")
    require(!from.equalsIgnoreCase(to),
      "Versioned.renameColumn: from and to are the same name")
    require(!isPartitionColumn(cur, from),
      s"Versioned.renameColumn: '$from' is a hive partition-directory " +
        "column — partition layout is not evolvable in place")
    requireNoLatentCollision(spark, root, cur, to, "renameColumn")
    val chain = from +: cur.renames.getOrElse(from, Nil)
    commit(spark, root, cur.copy(version = cur.version + 1,
      schema = StructType(cur.schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)),
      renames = cur.renames.filterNot(_._1.equalsIgnoreCase(from)) +
        (to -> chain)))
  }

  /** Retention expiry — the METADATA half of [[vacuum]] (r17 verdict
    * item 6): delete every snapshot document older than the newest
    * `keepLast`, leaving ALL data files in place. Expired versions
    * become loudly unavailable (the [[load]] "no snapshot" require);
    * the files they alone referenced become unreferenced and a later
    * [[vacuum]] reclaims exactly those (plus staged orphans — the
    * composition the retention story needs: expire bounds history,
    * vacuum reclaims bytes, each independently serialized with the
    * single writer). Returns the expired version numbers.
    */
  def expireSnapshots(spark: SparkSession, path: String,
      keepLast: Int): Seq[Int] = {
    require(keepLast >= 1,
      s"Versioned.expireSnapshots: keepLast must be >= 1, got $keepLast")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val all = versions(fs, root)
    if (all.isEmpty)
      sys.error(s"Versioned.expireSnapshots: $path is not a versioned table")
    val expired = all.dropRight(keepLast)
    expired.foreach(v => fs.delete(snapshotPath(root, v), false))
    expired
  }

  /** Version an EXISTING bare-parquet directory: snapshot its current
    * files, and the schema a plain read of them infers, as v1.
    * Returns 1. */
  def init(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(versions(fs, root).isEmpty,
      s"Versioned.init: $path is already versioned")
    val files = dataFiles(fs, root).toSeq
    require(files.nonEmpty, s"Versioned.init: no parquet files at $path")
    commit(spark, root, Snapshot(1, files, inferSchema(spark, root, files)))
  }

  /** Write `df` as a fresh versioned table at `path` (must be empty
    * or absent) and commit v1. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Int = {
    val w = sizedForWrite(df).write.mode("errorifexists")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
    init(spark, path)
  }

  /** Read the table as of `version` (default: current). Reads ONLY
    * the snapshot's immutable files, so the result is stable under
    * any concurrent commits; hive partition columns are recovered via
    * basePath. Planning opens no footer and runs no Spark job — the
    * read schema comes from the snapshot. Loud error if a listed file
    * was vacuumed or its length changed (immutability violated). */
  def load(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame =
    loadSnapshot(spark, new Path(path),
      snapshotOf(spark, path, "load", version), "load")

  /** Zone-map-pruned read of a SNAPSHOT — [[load]] composed with
    * [[TableLoader.loadPruned]]'s data skipping: the snapshot's live
    * files are filtered by their parquet min/max stats before Spark
    * ever opens them, so a selective range on a clustered versioned
    * table reads O(matching files) of the chosen VERSION. Because
    * versioned files are immutable, `_graft_manifest.json` entries
    * never go stale for them (the staleness check is byte-length) —
    * write the manifest once per table and every version plans from
    * the one sidecar. Result-identical to `load(...).filter(...)` by
    * the same conservative [[TableLoader]] decision core
    * (PartitioningSpec pins it).
    */
  def loadPruned(spark: SparkSession, path: String, column: String,
      lower: Option[Any] = None, upper: Option[Any] = None,
      version: Option[Int] = None): DataFrame = {
    require(lower.isDefined || upper.isDefined,
      "Versioned.loadPruned: at least one of lower/upper must be set")
    val root = new Path(path)
    val snap = snapshotOf(spark, path, "loadPruned", version)
    val live = livePaths(spark, root, snap, "loadPruned")
    val kept = TableLoader.pruneFileList(spark, path, snap.files, column,
      lower, upper)
    val pred = (lower.map(l => col(column) >= lit(l)) ++
      upper.map(u => col(column) <= lit(u))).reduce(_ && _)
    // no candidate: read one live file and let the filter return the
    // correct empty result. The filter applies after the declared-
    // schema read, so a post-evolution predicate column that some
    // pruned-in files lack still resolves (as typed NULL)
    read(spark, root, snap, if (kept.nonEmpty) kept else live.take(1))
      .filter(pred)
  }

  /** The distinct partition values `rows` touch — at most `max`, else
    * a loud error naming `op` — and the predicate selecting exactly
    * those partitions. */
  private def touchedPartitions(rows: DataFrame, partitionCols: Seq[String],
      max: Int, op: String): (Array[Row], Column) = {
    val touched = rows.select(partitionCols.map(col): _*).distinct()
      .limit(max + 1).collect()
    require(touched.length <= max,
      s"Versioned.$op: > $max touched partitions — raise " +
        "maxTouchedPartitions knowingly")
    val pred = touched.map { row =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(row.get(i)) }
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
    (touched, pred)
  }

  /** Versioned COW MERGE: same semantics and same touched-partition
    * confinement as [[graft.Graft.mergeIntoParquet]] (partitionCols ⊆
    * on, bounded touched-value collect), but the replacement rows are
    * APPENDED as new files and the commit is a new snapshot that drops
    * the touched partitions' old files from the live set — nothing is
    * deleted, so every prior version stays readable and a concurrent
    * reader of any version never sees a torn table. An emptied
    * partition simply has no files in the new snapshot (the in-place
    * facade needed an explicit directory delete for this — here
    * history IS the mechanism). Returns the committed version.
    */
  def mergeInto(spark: SparkSession, path: String,
      source: DataFrame, on: Seq[String], partitionCols: Seq[String],
      whenMatchedUpdate: Boolean = true,
      whenMatchedDeleteIf: Option[Column] = None,
      whenNotMatchedInsert: Boolean = true,
      maxTouchedPartitions: Int = 10000): Int = {
    require(partitionCols.nonEmpty, "Versioned.mergeInto: no partition columns")
    require(partitionCols.forall(on.contains),
      s"Versioned.mergeInto: partitionCols (${partitionCols.mkString(",")}) " +
        s"must be a subset of the merge keys (${on.mkString(",")})")
    val root = new Path(path)
    val cur = snapshotOf(spark, path, "mergeInto")
    val base = loadSnapshot(spark, root, cur, "mergeInto")
    requireRenderablePartitionTypes(cur.schema, partitionCols, "mergeInto")
    // align to the declared column order and types (the
    // mergeIntoParquet contract — union widening would break the
    // partition-value diff and SET */INSERT * schema equality)
    val src = castTo(source, cur.schema)
    val (touched, touchedPred) = touchedPartitions(src, partitionCols,
      maxTouchedPartitions, "mergeInto")
    val merged = graft.Graft.merge(base.filter(touchedPred), src, on,
      whenMatchedUpdate, whenMatchedDeleteIf, whenNotMatchedInsert)
    commitRewrite(spark, root, cur, partitionCols, touched, merged)
  }

  /** Shared commit tail for partition-confined rewrites ([[mergeInto]],
    * [[updateWhere]], [[deleteWhere]]): stamp-append `replacement`
    * (the touched partitions' COMPLETE surviving rows), drop the
    * touched partitions' previous files from the live set, commit.
    * With `partitionCols` empty the rewrite is full-table and the new
    * snapshot is exactly the new files. The dropped-prefix set is the
    * union of the re-rendered touched VALUES (covers partitions the
    * rewrite emptied — they produce no new files) and the new files'
    * actual parent directories (authoritative for partitions that
    * received rows); partition types are pre-validated renderable so
    * the two coincide — the union is defense in depth, not a crutch.
    */
  private def commitRewrite(spark: SparkSession, root: Path, cur: Snapshot,
      partitionCols: Seq[String], touched: Array[Row],
      replacement: DataFrame): Int = {
    // appending never deletes, so `replacement` may keep reading the
    // previous version's files while the new ones are written
    val newFiles = stampedAppend(fsOf(spark, root), root, replacement,
      partitionCols)
    val kept = if (partitionCols.isEmpty) Nil else {
      val rendered = touched.map { row =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          val s = Option(row.get(i)).map(_.toString)
            .getOrElse("__HIVE_DEFAULT_PARTITION__")
          s"$c=${graft.Graft.escapePathName(s)}"
        }.mkString("/") + "/"
      }.toSeq
      val fromFiles = newFiles.map(_._1).collect {
        case rel if rel.lastIndexOf('/') >= 0 =>
          rel.substring(0, rel.lastIndexOf('/') + 1)
      }
      val dropped = (rendered ++ fromFiles).distinct
      cur.files.filterNot { case (rel, _) => dropped.exists(rel.startsWith) }
    }
    commit(spark, root, cur.copy(version = cur.version + 1,
      files = kept ++ newFiles))
  }

  /** Versioned INSERT: append `rows` as new files, commit previous
    * live set + the new files. Existing files stay byte-identical
    * (the insertIntoParquet contract) AND the previous version stays
    * readable. Returns the committed version. */
  def insertInto(spark: SparkSession, path: String, rows: DataFrame,
      partitionCols: Seq[String] = Nil): Int =
    append(spark, new Path(path), snapshotOf(spark, path, "insertInto"),
      rows, partitionCols)

  /** Exactly-once micro-batch sink commit — the
    * `writeStream.foreachBatch` body for a versioned table: appends
    * the batch and commits a snapshot STAMPED with `batchId`; a
    * replayed batch (Structured Streaming re-runs the last batch
    * after recovery) whose id is ≤ the table's committed batchId is
    * SKIPPED, so restarts never double-append — the table-format
    * idempotent-sink protocol (the reason plain parquet `foreachBatch`
    * sinks are at-least-once) on the same snapshot machinery. Every
    * later commit (DML, evolution, compaction) carries the stamp
    * forward, so replay protection survives them. Returns the table's
    * version after the call (unchanged on a skip; PartitioningSpec
    * pins replay == no-op and mid-stream version reads).
    *
    * Usage:
    * {{{
    * ds.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   Versioned.insertIntoStreamBatch(spark, dir, b, cols, id); ()
    * }
    * }}}
    */
  def insertIntoStreamBatch(spark: SparkSession, path: String,
      rows: DataFrame, partitionCols: Seq[String], batchId: Long): Int = {
    val cur = snapshotOf(spark, path, "insertIntoStreamBatch")
    cur.batchId match {
      case Some(last) if batchId <= last => cur.version // replay: skip
      // the append's commit copies `cur`, so it carries the new stamp
      case _ => append(spark, new Path(path),
        cur.copy(batchId = Some(batchId)), rows, partitionCols)
    }
  }

  /** The streaming batchId the current snapshot carries, if any —
    * the idempotence marker for replay skipping. */
  def committedBatchId(spark: SparkSession, path: String): Option[Long] =
    currentVersion(spark, path)
      .flatMap(v => readSnapshot(spark, new Path(path), v).batchId)

  private def append(spark: SparkSession, root: Path, cur: Snapshot,
      rows: DataFrame, partitionCols: Seq[String]): Int = {
    val cols = cur.schema.fieldNames
    require(rows.columns.map(_.toLowerCase).toSet
        == cols.map(_.toLowerCase).toSet,
      s"Versioned.insertInto: schema mismatch — table has " +
        s"${cols.mkString(",")}, rows have ${rows.columns.mkString(",")}")
    // stamped append (never a before/after directory diff): under a
    // violated single-writer contract a concurrent appender's files
    // could land in this commit's listing window — the stamp makes
    // file attribution exact, so the winner's snapshot provably
    // contains only its own files and the loser dies on the v-rename
    val newFiles = stampedAppend(fsOf(spark, root), root,
      castTo(rows, cur.schema), partitionCols)
    commit(spark, root, cur.copy(version = cur.version + 1,
      files = cur.files ++ newFiles))
  }

  /** Shared body of [[updateWhere]] and [[deleteWhere]]: without
    * partition columns the whole table is rewritten; with them only
    * the partitions holding a `hit` row are, and a statement that hits
    * no row mints no version. */
  private def rewriteWhere(spark: SparkSession, path: String, cur: Snapshot,
      hit: Column, partitionCols: Seq[String], maxTouchedPartitions: Int,
      op: String)(rewrite: DataFrame => DataFrame): Int = {
    val root = new Path(path)
    val base = loadSnapshot(spark, root, cur, op)
    if (partitionCols.isEmpty)
      commitRewrite(spark, root, cur, Nil, Array.empty, rewrite(base))
    else {
      val (touched, touchedPred) = touchedPartitions(base.filter(hit),
        partitionCols, maxTouchedPartitions, op)
      if (touched.isEmpty) cur.version
      else commitRewrite(spark, root, cur, partitionCols, touched,
        rewrite(base.filter(touchedPred)))
    }
  }

  /** Persisted `UPDATE ... SET ... WHERE`: rows matching `cond` get
    * each SET column re-evaluated (every RHS sees the PRE-update row —
    * the ANSI swap semantics; a NULL condition row is NOT updated),
    * and the result commits as a NEW snapshot — prior versions stay
    * readable (time travel), concurrent readers never see a torn
    * table. Returns the committed version (unchanged when no row
    * matches — a no-op UPDATE mints no version).
    *
    * Scale shape: with `partitionCols`, only partitions CONTAINING a
    * matching row are rewritten (touched values collected bounded by
    * `maxTouchedPartitions`; SET on a partition column is rejected
    * loudly — it could move rows between partitions, breaking the
    * confinement); without, the whole table rewrites as new files.
    */
  def updateWhere(spark: SparkSession, path: String,
      sets: Seq[(String, Column)],
      cond: Column,
      partitionCols: Seq[String] = Nil,
      maxTouchedPartitions: Int = 10000): Int = {
    import org.apache.spark.sql.functions.when
    require(sets.nonEmpty, "Versioned.updateWhere: empty SET list")
    val cur = snapshotOf(spark, path, "updateWhere")
    val cols = cur.schema.fieldNames
    sets.foreach { case (c, _) =>
      require(cols.exists(_.equalsIgnoreCase(c)),
        s"Versioned.updateWhere: unknown column '$c' (table has " +
          s"${cols.mkString(",")})")
    }
    require(!sets.exists { case (c, _) =>
        partitionCols.exists(_.equalsIgnoreCase(c)) },
      "Versioned.updateWhere: SET on a partition column would move rows " +
        "between partitions — phrase it as a mergeInto (delete + insert)")
    requireRenderablePartitionTypes(cur.schema, partitionCols, "updateWhere")
    val hit = coalesce(cond, lit(false))
    rewriteWhere(spark, path, cur, hit, partitionCols, maxTouchedPartitions,
        "updateWhere") { df =>
      df.select(df.columns.map { c =>
        sets.find(_._1.equalsIgnoreCase(c)) match {
          case Some((_, e)) => when(hit, e).otherwise(col(c))
            .cast(df.schema(c).dataType).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
    }
  }

  /** Persisted `DELETE FROM ... WHERE`: rows where `cond` is TRUE are
    * removed (NULL-condition rows survive — ANSI), committed as a NEW
    * snapshot; prior versions stay readable. Returns the committed
    * version (unchanged when no row matches). With `partitionCols`,
    * only partitions containing a matching row are rewritten; a
    * partition the DELETE empties simply has no files in the new
    * snapshot.
    */
  def deleteWhere(spark: SparkSession, path: String,
      cond: Column,
      partitionCols: Seq[String] = Nil,
      maxTouchedPartitions: Int = 10000): Int = {
    import org.apache.spark.sql.functions.not
    val cur = snapshotOf(spark, path, "deleteWhere")
    requireRenderablePartitionTypes(cur.schema, partitionCols, "deleteWhere")
    val hit = coalesce(cond, lit(false))
    rewriteWhere(spark, path, cur, hit, partitionCols, maxTouchedPartitions,
      "deleteWhere")(_.filter(not(hit)))
  }

  /** Small-file compaction: rewrite every partition directory holding
    * MORE than one live file into bin-packed larger files and commit
    * the result as a NEW snapshot — the antidote to the streaming
    * sink's one-file-set-per-micro-batch accretion (T12), with the
    * append-only contract preserved: nothing is deleted, every prior
    * version still time-travels, and the current streaming batch
    * stamp is carried FORWARD into the compaction snapshot so a
    * mid-stream compaction can never reopen replay protection.
    * Directories already at one file are left byte-untouched. Returns
    * the committed version (unchanged when nothing needs compacting).
    *
    * Scale shape: one shuffle of the compactable bytes, nothing else
    * moves. Partitioned tables repartition on the partition columns
    * (+ a deterministic row-hash salt when a directory exceeds
    * `targetFileBytes`, bounding files-per-directory at
    * ceil(dirBytes/target)); unpartitioned tables round-robin into
    * ceil(totalBytes/target) bins. Old files stay for time travel —
    * reclaim them with [[vacuum]] once history ages out.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Nil): Int = {
    require(targetFileBytes >= 1L,
      s"Versioned.compact: targetFileBytes must be >= 1, got $targetFileBytes")
    val root = new Path(path)
    val cur = snapshotOf(spark, path, "compact")
    def dirOf(rel: String): String = {
      val slash = rel.lastIndexOf('/')
      if (slash < 0) "" else rel.substring(0, slash)
    }
    val byDir = cur.files.groupBy(f => dirOf(f._1))
    val toCompact = byDir.filter(_._2.size > 1)
    if (toCompact.isEmpty) return cur.version
    val keep = byDir.view.filterKeys(!toCompact.contains(_))
      .values.flatten.toSeq
    val paths = toCompact.values.flatten
      .map(f => new Path(root, f._1).toString).toSeq
    // the declared-schema read keeps every column across
    // mixed-schema directories (a plain read would silently drop an
    // added column from the rewritten files)
    val df = read(spark, root, cur, paths)
    partitionCols.foreach(c => require(df.columns.contains(c),
      s"Versioned.compact: partition column '$c' not in the table " +
        s"(${df.columns.mkString(",")}) — pass the table's hive layout"))
    val out =
      if (partitionCols.isEmpty) {
        val totalBytes = toCompact.values.flatten.map(_._2).sum
        val nBins = math.max(1L,
          (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
        df.repartition(nBins)
      } else {
        val maxDirBytes = toCompact.values.map(_.map(_._2).sum).max
        val binsPerDir = math.max(1L,
          (maxDirBytes + targetFileBytes - 1) / targetFileBytes).toInt
        if (binsPerDir == 1)
          // all rows of a partition value hash to ONE task → exactly
          // one output file per compacted directory
          df.repartition(partitionCols.map(col): _*)
        else {
          // deterministic row-hash salt caps files-per-directory at
          // binsPerDir without a second shuffle
          val dataCols = df.columns.filterNot(partitionCols.contains)
          df.withColumn("_graft_bin",
              org.apache.spark.sql.functions.pmod(
                org.apache.spark.sql.functions.hash(
                  dataCols.map(col).toIndexedSeq: _*), lit(binsPerDir)))
            .repartition((partitionCols.map(col) :+ col("_graft_bin"))
              .toIndexedSeq: _*)
            .drop("_graft_bin")
        }
      }
    val newFiles = stampedAppend(fsOf(spark, root), root, out, partitionCols)
    commit(spark, root, cur.copy(version = cur.version + 1,
      files = keep ++ newFiles))
  }

  /** Retention: drop all snapshots older than the newest `keepLast`
    * and physically delete data files no kept snapshot references,
    * plus orphaned `.stage-*` staging directories a crashed commit
    * left under the versions dir. The ONLY destructive operation in
    * the layer; returns the deleted relPaths.
    *
    * Serialization contract: vacuum is a WRITE and must be serialized
    * with the single writer — an in-flight commit's freshly-appended
    * files are unreferenced until its snapshot renames into place, so
    * a concurrent vacuum could destroy a commit in progress. As a
    * safety margin against a violated contract, unreferenced files
    * whose modification time is NEWER than the latest committed
    * snapshot are skipped (they may belong to an in-flight writer);
    * they remain eligible for the next vacuum once a later snapshot
    * either references or supersedes them.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"Versioned.vacuum: keepLast must be >= 1")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val all = versions(fs, root)
    if (all.isEmpty)
      sys.error(s"Versioned.vacuum: $path is not a versioned table")
    val keep = all.takeRight(keepLast)
    val referenced = keep.flatMap(v =>
      readSnapshot(spark, root, v).files.map(_._1)).toSet
    val latestMtime =
      fs.getFileStatus(snapshotPath(root, all.last)).getModificationTime
    val doomed = (dataFiles(fs, root).keySet -- referenced).toSeq.sorted
      .filter { rel =>
        val p = new Path(root, rel)
        fs.exists(p) && fs.getFileStatus(p).getModificationTime <= latestMtime
      }
    doomed.foreach(rel => fs.delete(new Path(root, rel), false))
    all.dropRight(keepLast).foreach(v =>
      fs.delete(snapshotPath(root, v), false))
    // staged-orphan sweep (r16 ADVICE): a crash between stampedAppend's
    // staging write and its cleanup delete leaves a .stage-<stamp> dir
    // under the versions dir forever — dataFiles skips the versions
    // dir, so the unreferenced-file sweep above never lists it. Same
    // in-flight safety margin as above: a stage dir NEWER than the
    // latest committed snapshot may belong to a racing writer (already
    // a contract violation) and is left alone until a later vacuum.
    val stagedOrphans = fs.listStatus(versionsDir(root)).toSeq.filter { st =>
      st.isDirectory && st.getPath.getName.startsWith(".stage-") &&
        st.getModificationTime <= latestMtime
    }
    stagedOrphans.foreach(st => fs.delete(st.getPath, true))
    doomed ++ stagedOrphans.map(st =>
      s"$VersionsDirName/${st.getPath.getName}")
  }
}
