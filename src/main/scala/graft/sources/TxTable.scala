package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A minimal transactional parquet table: snapshot isolation +
  * optimistic concurrency over any Hadoop filesystem, with no engine
  * dependencies — the ACID ingest substrate the harvest-while-serving
  * operating mode needs (cf. reference `serve.py` querying a live
  * DocStore while the sync CLI ingests), built on the two public
  * primitives every such layer reduces to (the Delta/Iceberg design,
  * re-derived): immutable data files + an atomically published
  * manifest.
  *
  * Layout:
  * {{{
  *   root/data/<uuid>/part-*.parquet   -- immutable, write-once
  *   root/dv/<uuid>/part-*.parquet     -- deletion-vector positions
  *   root/cdc/<uuid>/part-*.parquet    -- change-feed merge events
  *   root/_txlog/<%020d>.txn           -- one manifest per version
  * }}}
  *
  * A manifest lists the COMPLETE active file set of its version (no
  * log replay needed to resolve a snapshot — one file read). Line
  * format: `version=N` first; then `key=value` table headers carried
  * forward commit-to-commit (`cluster=<col>` declares the one integral
  * range-clustering column; `schema=<json>` the declared table schema
  * every writer validates against and every reader scans by (see the
  * schema-evolution section); `cdc=true` the change feed;
  * `stream:<id>=<batchId>` records the last committed batch per
  * streaming source); then one line per data file —
  * `data/<uuid>/<name>` optionally followed by the TAB-separated
  * min/max of the cluster column, the file-skipping statistics that
  * let [[readRange]] and [[deleteRange]] prune whole files before any
  * parquet footer is opened.
  *
  * Commit protocol: write new data files under a fresh uuid dir
  * (invisible to every reader — readers only open files named by a
  * manifest), write the manifest to a temp name, then RENAME it to
  * `<version+1>.txn`. Rename-no-overwrite is atomic on HDFS and
  * object-store committers; a lost race means the destination exists,
  * the rename fails, and the commit aborts cleanly with nothing
  * visible. Readers that resolved version N keep a consistent view
  * forever: its files are immutable and never deleted except by
  * [[vacuum]].
  *
  * Concurrency semantics, per operation:
  *   - [[append]] / [[addStreamingBatch]]: conflict-free by
  *     construction (they add files to whatever the latest manifest
  *     says) — on a lost race they re-read the new latest and retry,
  *     bounded.
  *   - [[compact]] / [[autoCompact]]: read-modify-write — a lost
  *     race means the snapshot the result was derived from is stale,
  *     so they FAIL with a conflict (caller re-runs on the new
  *     snapshot); retrying silently would lose the interleaved
  *     commit's rows.
  *   - [[mergeInto]]: read-modify-write with OPTIONAL optimistic
  *     retry (`maxRetries > 0`): a lost race RE-READS the latest
  *     snapshot and RE-RUNS the whole merge against it before
  *     re-publishing — never re-publishing a result derived from a
  *     stale snapshot, so every committed version v+1 equals
  *     merge(snapshot v, source) exactly and the table history is the
  *     serial order of the commit wins (no lost updates). Default
  *     `maxRetries = 0` keeps the fail-on-conflict contract.
  *
  * At 100 TB: manifests are file LISTS (KB-scale text), data files
  * parquet with full predicate/column pushdown through the normal
  * reader. [[readRange]] prunes at the FILE level from manifest stats
  * before parquet row-group stats ever engage — the scan for a
  * key-range query touches |matching files|, not the table.
  * [[compact]] bounds the small-file count that per-batch streaming
  * commits would otherwise accrete. Nothing here touches the driver
  * beyond the manifest.
  */
object TxTable {

  /** One resolved version: `files` are root-relative paths, `stats`
    * maps a file to the (min, max) of the cluster column where
    * recorded, `headers` carries the table metadata (`cluster`,
    * `schema`, `cdc`, `stream:<id>`), `dvFiles` the deletion-vector
    * position files of [[deleteWhere]] commits, and `cdcFiles` the
    * change files THIS version's change-feed [[mergeInto]] wrote.
    */
  final case class Snapshot(
      version: Long, files: Seq[String],
      stats: Map[String, (Long, Long)],
      headers: Map[String, String],
      dvFiles: Seq[String] = Seq.empty,
      cdcFiles: Seq[String] = Seq.empty) {
    /** The declared range-clustering column, if any. */
    def clusterCol: Option[String] = headers.get("cluster")
    /** The version's declared table schema (header `schema=<json>`,
      * written by [[create]] since round 14) — what makes reads
      * deterministic across files written by different-width commits:
      * with it, every scan passes the DECLARED schema and parquet
      * resolves columns BY NAME (a column added after a file was
      * written reads as null); without it (legacy tables), the reader
      * falls back to single-footer inference.
      */
    def tableSchema: Option[org.apache.spark.sql.types.StructType] =
      headers.get("schema").map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  final class CommitConflict(msg: String)
    extends RuntimeException(msg)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_txlog")

  private def manifestPath(root: String, v: Long) =
    new Path(logDir(root), f"$v%020d.txn")

  // committed manifests ONLY — in-flight temp manifests live in the
  // same dir as `.tmp-<uuid>.txn` and must never parse as versions
  private val ManifestName = """^(\d{20})\.txn$""".r

  /** All committed versions, ascending; empty for a non-table path.
    * Strict name match: a temp manifest left by an in-flight (or
    * crashed) writer is invisible here, so reads and appends stay
    * correct concurrently with any commit attempt.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = logDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }
      .sorted
  }

  /** A read anchored on a version whose manifest [[vacuum]] swept —
    * the crisp edge of the retention horizon (Delta's CDF behavior):
    * a change consumer whose `fromVersion` predates the sweep gets
    * THIS, never a silently partial feed, and the message names the
    * oldest surviving version to re-anchor from.
    */
  final class VacuumedVersionException(msg: String)
    extends IllegalStateException(msg)

  /** A read anchored on a version that was never committed: above the
    * latest, or on a path that holds no table.
    */
  final class MissingVersionException(msg: String, cause: Throwable)
    extends IllegalArgumentException(msg, cause)

  def snapshot(spark: SparkSession, root: String, version: Long): Snapshot = {
    val p = manifestPath(root, version)
    val f = fs(spark, p)
    val in = try f.open(p) catch {
      case e: java.io.FileNotFoundException =>
        val vs = versions(spark, root)
        if (vs.nonEmpty && version < vs.min)
          throw new VacuumedVersionException(
            s"TxTable $root: version $version predates the vacuum " +
              s"retention boundary — oldest available version is " +
              s"${vs.min}; re-anchor the read there (change consumers: " +
              s"restart with fromVersion >= ${vs.min}, or reconcile via " +
              "the Merkle snapshot diff)")
        else throw new MissingVersionException(
          s"TxTable $root: no committed version $version" +
            (if (vs.isEmpty) " (not a TxTable?)"
             else s" (latest is ${vs.max})"), e)
    }
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    require(lines.headOption.contains(s"version=$version"),
      s"manifest $p does not declare version=$version")
    // file entries start with an immutable namespace prefix (`data/`
    // for corpus files); anything else after the version line is a
    // key=value header — routed by PREFIX, never by '='
    val (fileLines, rest) =
      lines.drop(1).partition(_.startsWith("data/"))
    // deletion-vector namespace: position files of MERGE-ON-READ
    // deletes (see [[deleteWhere]]) — no stats, carried verbatim
    val (dvEntryLines, rest2) = rest.partition(_.startsWith("dv/"))
    // change-data namespace: explicit row-level change files a
    // change-feed-enabled mergeInto writes beside its rewrite — listed
    // ONLY by the commit that produced them (per-version events, never
    // carried), read only by the change stream
    val (cdcLines, headerLines) = rest2.partition(_.startsWith("cdc/"))
    val headers = headerLines.map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"malformed manifest header '$l' in $p")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    val entries = fileLines.map(_.split("\t").toSeq)
    val files = entries.map(_.head)
    // path alone = no stats; path + min + max = the cluster column's span
    val stats = entries.collect {
      case Seq(f, mn, mx) => f -> (mn.toLong, mx.toLong)
    }.toMap
    Snapshot(version, files, stats, headers,
      dvEntryLines.map(_.split("\t").head),
      cdcLines.map(_.split("\t").head))
  }

  def latestSnapshot(spark: SparkSession, root: String): Snapshot = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a TxTable (no _txlog manifests)")
    snapshot(spark, root, vs.last)
  }

  /** The latest committed snapshot as a DataFrame. The file list is
    * resolved NOW — the returned frame is a stable view of this
    * version no matter what commits later.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestSnapshot(spark, root).version)

  /** Time travel: the table exactly as of `version`. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val s = snapshot(spark, root, version)
    readFiles(spark, root, s.files, s.dvFiles, s.tableSchema)
  }

  /** Change-data feed for APPEND-STYLE commits: the rows added by
    * versions (fromVersion, toVersion] — exactly the files present in
    * the destination snapshot but absent from the source one, so an
    * incremental consumer reads ONLY the delta files (no diffing of
    * row contents, no full-table scan). Contract: valid for commits
    * that never rewrite surviving rows into new files (create/append/
    * streaming batches); a compaction or merge inside the range
    * rewrites files and would replay surviving rows — use the
    * Merkle-bucket snapshot diff for row-level semantics there.
    */
  def readChanges(
      spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val from = snapshot(spark, root, fromVersion).files.toSet
    val toSnap = snapshot(spark, root, toVersion)
    val to = toSnap.files
    val delta = to.filterNot(from)
    // empty range ⇒ empty frame with the table's schema, not a throw
    if (delta.isEmpty)
      readFiles(spark, root, to, schema = toSnap.tableSchema).limit(0)
    else readFiles(spark, root, delta, schema = toSnap.tableSchema)
  }

  /** TYPED batch change feed — the batch twin of [[readChangeStream]]
    * (same channels, same guard): every row-level change of versions
    * (fromVersion, toVersion], stamped `_change_type` + `_commit_
    * version`. Per version: new data files are `insert` rows (read
    * raw — a later version's DV delete arrives as its own `delete`
    * event); a [[deleteWhere]] commit's positions resolve back to full
    * rows by a (file, row_index) semi-join against `_metadata` over
    * ONLY the touched files (the position list is KB–MB, never the
    * table); a change-feed [[mergeInto]]'s explicit `cdc/` files serve
    * their own typed rows (insert/update_preimage/update_postimage/
    * delete) and the rewrite representation is ignored. A rewrite
    * version WITHOUT a cdc channel (compact/restore/feed-less merge)
    * fails with the same guidance as the stream. All generations are
    * served under the DESTINATION version's declared schema,
    * physical-name-resolved (the reserved-name mapping): a column
    * ADDED inside the range reads null from files that predate it.
    */
  def readChangesTyped(
      spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val toSnap = snapshot(spark, root, toVersion)
    val schema = toSnap.tableSchema
    def logicalOf(df: DataFrame, extra: Seq[org.apache.spark.sql.Column]) =
      schema match {
        case Some(st) => df.select(st.fields.map(f =>
          col(physicalName(f)).as(f.name)) ++ extra: _*)
        case None => df
      }
    val posExtract = expr("regexp_extract(_metadata.file_path, " +
      "'(data/[^/]+/[^/]+)$', 1)")
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val (data, dv, cdc, removed) =
        graft.streaming.TxChangeStream.deltaFiles(spark, root, v)
      if (cdc.nonEmpty) {
        val phys = schema.map(st => StructType(
          physicalSchema(st).fields :+
            StructField("_change_type", StringType)))
        val raw = phys.fold(spark.read)(spark.read.schema)
          .parquet(cdc.map(f => s"$root/$f"): _*)
        Seq(logicalOf(raw, Seq(col("_change_type")))
          .withColumn("_commit_version", lit(v)))
      } else {
        if (removed.nonEmpty)
          throw new IllegalStateException(
            s"readChangesTyped at $root: version $v removed " +
              s"${removed.size} data/dv file(s) — not representable " +
              "row-accurately (compact/restore/feed-less merge); " +
              "enable the change feed for merges, or diff snapshots")
        val ins = if (data.isEmpty) Nil else Seq(
          readFiles(spark, root, data, schema = schema)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        val del = if (dv.isEmpty) Nil else {
          val pos = spark.read.parquet(dv.map(f => s"$root/$f"): _*)
            .select(col("file").as("_dv_f"), col("row_index").as("_dv_ri"))
          // plan the scan over the TOUCHED files only — the distinct
          // file list is bounded by the delete, not the table
          val touched = pos.select("_dv_f").distinct()
            .collect().map(_.getString(0)).toSeq.sorted
          val joined = schema.map(physicalSchema)
            .fold(spark.read)(spark.read.schema)
            .parquet(touched.map(f => s"$root/$f"): _*)
            .select(col("*"), posExtract.as("_dv_f"),
              col("_metadata.row_index").as("_dv_ri"))
            .join(pos, Seq("_dv_f", "_dv_ri"), "left_semi")
          val logical = schema match {
            case Some(_) => logicalOf(joined, Seq.empty)
            case None => joined.drop("_dv_f", "_dv_ri")
          }
          Seq(logical
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v)))
        }
        ins ++ del
      }
    }
    if (parts.nonEmpty) parts.reduce(_ unionByName _)
    else readFiles(spark, root, toSnap.files, schema = schema).limit(0)
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(-1L))
  }

  /** Streaming face of [[readChanges]]: a Structured Streaming source
    * that tails the manifest log — offset = committed version, each
    * micro-batch = that version range's file-set delta stamped with
    * `_change_type` (`insert` for new data files, `delete` for rows a
    * [[deleteWhere]] DV commit removed — positions resolved back to
    * full rows executor-side) and `_commit_version`. Append-style +
    * DV contract; full design notes on
    * [[graft.streaming.TxChangeStream]].
    */
  def readChangeStream(
      spark: SparkSession, root: String,
      startingVersion: Long = 0L,
      maxVersionsPerTrigger: Int = 0,
      allowRewrites: Boolean = false): DataFrame =
    graft.streaming.TxChangeStream.readStream(
      spark, root, startingVersion, maxVersionsPerTrigger, allowRewrites)

  private def readFiles(
      spark: SparkSession, root: String, files: Seq[String],
      dvFiles: Seq[String] = Seq.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    if (files.isEmpty)
      // an empty committed table still has a schema obligation only
      // its writer knew; surface the emptiness explicitly
      throw new IllegalStateException(s"TxTable $root: no data files")
    // column mapping: the scan resolves files by PHYSICAL name, the
    // final projection restores logical names
    val mapped = schema.exists(hasMapping)
    val reader = schema.map(physicalSchema)
      .fold(spark.read)(spark.read.schema)
    val base0 = reader.parquet(files.map(f => s"$root/$f"): _*)
    def toLogical(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(schema.get.fields.map(f =>
        col(physicalName(f)).as(f.name)): _*)
    val base = base0
    if (dvFiles.isEmpty) toLogical(base)
    else {
      // merge-on-read: anti-join the per-row (file, row_index)
      // position against the snapshot's deletion vectors. The data
      // file layout guarantees root-relative paths of exactly
      // data/<commit-uuid>/<part>, so the suffix extraction is exact.
      // DV rows for files no longer in the manifest simply never
      // match — stale positions are dead weight vacuum collects, not
      // a correctness hazard.
      val cols = base.columns
      val withPos = base.select(col("*"),
        expr("regexp_extract(_metadata.file_path, " +
          "'(data/[^/]+/[^/]+)$', 1)").as("_dv_f"),
        col("_metadata.row_index").as("_dv_ri"))
      val dv = spark.read.parquet(dvFiles.map(f => s"$root/$f"): _*)
        .select(col("file").as("_dv_f"), col("row_index").as("_dv_ri"))
      toLogical(withPos.join(dv, Seq("_dv_f", "_dv_ri"), "left_anti")
        .select(cols.map(col): _*))
    }
  }

  /** Key-range read with FILE-LEVEL skipping on the cluster column:
    * only files whose manifest [min,max] overlaps [lo,hi] are opened
    * (a file with no recorded stats is conservatively read). The row
    * filter is still applied, so the result is exact whether or not
    * stats exist — stats only shrink the scan, never the answer.
    */
  def readRange(
      spark: SparkSession, root: String, lo: Long, hi: Long): DataFrame = {
    val s = latestSnapshot(spark, root)
    val c = s.clusterCol.getOrElse(throw new IllegalArgumentException(
      s"TxTable $root has no cluster column; readRange needs one"))
    readFiles(spark, root, prunedFiles(s, lo, hi), s.dvFiles, s.tableSchema)
      .filter(col(c).between(lo, hi))
  }

  /** The post-skipping file list for [lo,hi] on the cluster column —
    * exposed so callers and specs can assert how much of the table a
    * range touches.
    */
  def prunedFiles(s: Snapshot, lo: Long, hi: Long): Seq[String] =
    s.files.filter { f =>
      s.stats.get(f).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }

  /** Write `df`'s rows as new immutable data files; returns manifest
    * entries (path, optional cluster-column stats). A cluster column
    * range-repartitions the frame so each file holds a contiguous key
    * span — that is what makes the min/max entries selective instead
    * of all-overlapping. Per-file stats come from ONE aggregate over
    * the just-written files.
    */
  private def writeDataFiles(
      df: DataFrame, root: String, cluster: Option[String],
      buckets: Int): Seq[String] = {
    val sub = s"data/${UUID.randomUUID()}"
    val dest = new Path(root, sub)
    cluster.fold(df)(c => df.repartitionByRange(buckets, col(c)))
      .write.parquet(dest.toString)
    val f = fs(df.sparkSession, dest)
    val names = f.listStatus(dest).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
      .sorted
    cluster match {
      case None => names.map(n => s"$sub/$n")
      case Some(c) =>
        val stats = df.sparkSession.read.parquet(dest.toString)
          .select(input_file_name().as("_f"), col(c).cast("long").as("_k"))
          .groupBy(col("_f"))
          .agg(min(col("_k")), max(col("_k")))
          .collect()
          // an all-null (or non-castable) cluster column leaves
          // min/max null: emit the file WITHOUT stats — the
          // conservative always-read path — instead of an NPE
          // mid-write with data files already on disk
          .filterNot(r => r.isNullAt(1) || r.isNullAt(2))
          .map(r => new Path(r.getString(0)).getName ->
            s"${r.getLong(1)}\t${r.getLong(2)}")
          .toMap
        names.map(n => stats.get(n).fold(s"$sub/$n")(st => s"$sub/$n\t$st"))
    }
  }

  /** Atomically publish `version`; false = lost the race. */
  private def tryCommit(
      spark: SparkSession, root: String, version: Long,
      headers: Map[String, String], fileEntries: Seq[String]): Boolean = {
    val dir = logDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) f.mkdirs(dir)
    val dest = manifestPath(root, version)
    if (f.exists(dest)) return false
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}.txn")
    val headerLines = headers.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }
    val out = f.create(tmp, false)
    try out.write(
      ((s"version=$version" +: headerLines) ++ fileEntries)
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // publish via FileContext rename with Rename.NONE — fail-if-exists
    // is enforced by the filesystem layer (atomically on HDFS and
    // no-overwrite-rename stores), not by a check-then-act exists()
    // probe; two racing writers cannot both observe success for the
    // same version, so the loser's manifest is never clobbered
    val won =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.getUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.FileNotFoundException => false
        case _: java.io.IOException => false
      }
    if (!won) f.delete(tmp, false)
    won
  }

  private def lineFor(s: Snapshot, f: String): String =
    s.stats.get(f).fold(f) { case (mn, mx) => s"$f\t$mn\t$mx" }

  // existing stats lines must survive a commit that re-lists old files
  private def entryLines(s: Snapshot): Seq[String] =
    s.files.map(lineFor(s, _))

  /** Deletion-vector lines carried verbatim (no stats). */
  private def dvLines(s: Snapshot): Seq[String] = s.dvFiles

  // ------------------------------------------------- schema evolution
  //
  // The manifest carries the table schema (`schema=<StructType json>`,
  // one line): every writer batch is validated against it BEFORE any
  // file lands, and every reader passes it to the scan so columns
  // resolve BY NAME across files written by different-width commits —
  // without it, spark.read.parquet picks ONE footer and a wider
  // append's columns silently vanish from reads. Evolution is explicit
  // (Delta's discipline): `append(..., mergeSchema = true)` may ADD
  // columns (the union schema publishes in the same commit; old files
  // read the new column as null), never change or drop a type.
  // Legacy tables without the header keep the old single-footer reads.

  import org.apache.spark.sql.types._

  // -------------------------------------------------- column mapping
  //
  // The declared schema's field METADATA may carry a column's PHYSICAL
  // name — the name its bytes sit under in every parquet file. Only a
  // reserved top-level name gets one ([[reserveMapped]]: `_metadata`
  // is stored as `_gm_metadata`). Reads scan BY PHYSICAL name and
  // alias back to logical; writes rename logical→physical before any
  // file lands. Schema evolution refuses to ADD a column whose name
  // matches a live physical name — the by-physical-name scan would
  // serve the mapped column's bytes under the new column.

  /** Top-level-field metadata key holding the column's physical
    * (on-file) name; absent = physical equals logical.
    */
  private val PhysNameKey = "physName"

  /** The parquet-file field name a declared column's bytes live
    * under — its logical name unless [[reserveMapped]] pinned another.
    */
  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  private def hasMapping(st: StructType): Boolean =
    st.fields.exists(f => physicalName(f) != f.name)

  /** The declared schema with every field under its PHYSICAL name —
    * what the parquet scan resolves against (metadata stripped; a
    * read schema carries none).
    */
  private def physicalSchema(st: StructType): StructType =
    StructType(st.fields.map(f =>
      StructField(physicalName(f), f.dataType, f.nullable)))

  private def declaredSchema(
      headers: Map[String, String]): Option[StructType] =
    headers.get("schema").map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])

  /** Rename a batch's columns logical→physical before a corpus write
    * (no-op without a mapping). Columns outside the declared schema
    * (`_change_type` on a cdc frame) pass through untouched.
    */
  private def toPhysical(
      df: DataFrame, headers: Map[String, String]): DataFrame =
    declaredSchema(headers) match {
      case Some(st) if hasMapping(st) =>
        val byLower = st.fields.map(f =>
          f.name.toLowerCase(java.util.Locale.ROOT) -> physicalName(f)).toMap
        df.select(df.columns.map(c => col(c).as(
          byLower.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c))): _*)
      case _ => df
    }

  /** Keep ONLY the column-mapping key through normalization — other
    * source-supplied field metadata is noise a schema header must not
    * memorialize, but losing physName would sever a mapped column
    * from its bytes.
    */
  private def keepPhys(m: Metadata): Metadata =
    if (m.contains(PhysNameKey))
      new MetadataBuilder()
        .putString(PhysNameKey, m.getString(PhysNameKey)).build()
    else Metadata.empty

  /** Canonical comparable/storable form: all nullable, metadata
    * reduced to the column-mapping key — nullability is a hint
    * parquet files disagree on harmlessly, not a schema identity.
    */
  private def nullNorm(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(f.name, nullNorm(f.dataType), nullable = true,
        keepPhys(f.metadata))))
    case ArrayType(et, _) => ArrayType(nullNorm(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullNorm(k), nullNorm(v), valueContainsNull = true)
    case other => other
  }

  private def normSchema(st: StructType): StructType =
    nullNorm(st).asInstanceOf[StructType]

  /** Reject case-duplicate column names ("v" beside "V") anywhere a
    * schema is about to be DECLARED: reads resolve case-insensitively
    * (Spark's default), so a case-duplicate schema header fails every
    * subsequent read — a table bricked at birth instead of rejected
    * before the first file lands. Applied by [[checkSchema]] for
    * append batches and directly by [[create]] (whose frame BECOMES
    * the declared schema without passing through checkSchema).
    */
  private def requireNoCaseDuplicates(st: StructType, op: String): Unit = {
    val dupes = st.fields
      .groupBy(f => f.name.toLowerCase(java.util.Locale.ROOT))
      .collect { case (_, fs) if fs.length > 1 => fs.map(_.name).toSeq }
    require(dupes.isEmpty,
      s"$op: case-duplicate columns ${dupes.mkString(",")} — reads " +
        "resolve case-insensitively, so the schema cannot be declared")
  }

  /** Validate an incoming batch against the table schema; returns the
    * headers the commit should publish. Strict mode: the batch's
    * column set and types must equal the declared schema exactly.
    * `mergeSchema`: columns present on both sides must type-match;
    * batch-only columns APPEND to the declared schema (old files
    * serve them as null); declared-only columns may be absent from
    * the batch (its files serve them as null). Legacy tables (no
    * header) pass through unvalidated.
    */
  private def checkSchema(
      df: DataFrame, headers: Map[String, String], op: String,
      mergeSchema: Boolean = false): Map[String, String] = {
    val declaredJson = headers.get("schema")
    if (declaredJson.isEmpty) return headers
    val declared = normSchema(
      DataType.fromJson(declaredJson.get).asInstanceOf[StructType])
    val incoming = normSchema(df.schema)
    // name matching is CASE-INSENSITIVE, like Spark's own parquet
    // column resolution (default spark.sql.caseSensitive=false):
    // treating "V" as a new column beside declared "v" would publish
    // a case-duplicate schema that fails every subsequent read
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    requireNoCaseDuplicates(incoming, op)
    val dm = declared.fields.map(f => key(f.name) -> f.dataType).toMap
    val im = incoming.fields.map(f => key(f.name) -> f.dataType).toMap
    val conflicts = im.keySet.intersect(dm.keySet)
      .filter(n => im(n) != dm(n))
    require(conflicts.isEmpty,
      s"$op: column type conflict for ${conflicts.toSeq.sorted.mkString(",")} " +
        s"(declared vs batch) — evolution may only ADD columns")
    val extra = incoming.fields.filterNot(f => dm.contains(key(f.name)))
    val missing = declared.fields.filterNot(f => im.contains(key(f.name)))
    if (!mergeSchema) {
      require(extra.isEmpty && missing.isEmpty,
        s"$op: batch schema ${incoming.simpleString} does not match the " +
          s"declared ${declared.simpleString}; pass mergeSchema = true " +
          "to add columns")
      headers
    } else if (extra.isEmpty) headers
    else {
      // resurrection guard (column mapping): an added column whose
      // name matches a mapped column's physical name would serve that
      // column's bytes as its values through the by-physical-name scan
      val physTaken = declared.fields.map(f => key(physicalName(f))).toSet
      val clash = extra.filter(f => physTaken.contains(key(f.name)))
      require(clash.isEmpty,
        s"$op: cannot add column(s) ${clash.map(_.name).mkString(",")} — " +
          "the name matches a mapped column's PHYSICAL name; its bytes " +
          "would resurrect under it (pick a different name)")
      // an ADDED reserved name gets its physical mapping here, like
      // create gives one at schema establishment
      headers + ("schema" ->
        reserveMapped(StructType(declared.fields ++ extra)).json)
    }
  }

  /** Spark's parquet source reserves `_metadata` for the hidden
    * per-file metadata struct (file_path / row_index) that deletion-
    * vector application and the change feed join on; a DATA column
    * with that name shadows the hidden one, so every DV read fails
    * analysis — and the reference's record schema carries exactly
    * such a column (`RecordMeta` as `_metadata`). Schema-establishing
    * writes therefore pin a PHYSICAL on-file name for any reserved
    * top-level name through the existing column-mapping machinery:
    * bytes land under `_gm_metadata`, reads alias back to the logical
    * name, and the hidden metadata column stays reachable.
    * Mapped-already fields are left alone; the candidate name steps
    * until free.
    */
  private val ReservedNames = Set("_metadata")

  private def reserveMapped(st: StructType): StructType = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val taken = st.fields.map(f => key(physicalName(f))).toSet
    StructType(st.fields.map { f =>
      if (!ReservedNames.contains(key(f.name)) || physicalName(f) != f.name) f
      else {
        var cand = "_gm" + f.name
        while (taken.contains(key(cand))) cand = "_gm" + cand
        f.copy(metadata = new MetadataBuilder()
          .putString(PhysNameKey, cand).build())
      }
    })
  }

  private def schemaHeaderFor(df: DataFrame): (String, String) =
    "schema" -> reserveMapped(normSchema(df.schema)).json

  /** Create a new table at `root` (version 0). `clusterCol` (integral)
    * enables range-clustered files + manifest min/max stats on every
    * subsequent write; `buckets` bounds files per commit. Fails if a
    * table exists.
    */
  def create(
      df: DataFrame, root: String, clusterCol: Option[String] = None,
      buckets: Int = 8): Long = {
    require(versions(df.sparkSession, root).isEmpty,
      s"TxTable already exists at $root")
    requireNoCaseDuplicates(df.schema, s"create at $root")
    val headers = Map(schemaHeaderFor(df)) ++ clusterCol.map("cluster" -> _)
    // reserved-name mapping (`_metadata`) may already apply at v0
    val entries =
      writeDataFiles(toPhysical(df, headers), root, clusterCol, buckets)
    if (!tryCommit(df.sparkSession, root, 0L, headers, entries))
      throw new CommitConflict(s"concurrent create at $root")
    0L
  }

  /** Blind append: retries past lost races (bounded), since adding
    * files commutes with any interleaved commit's file additions.
    */
  def append(df: DataFrame, root: String, maxRetries: Int = 10,
      buckets: Int = 8, mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val pre = latestSnapshot(spark, root)
    // the checked headers carry any schema the batch ADDS (mergeSchema)
    // including a reserved-name physical mapping — the batch's files
    // must land under those physical names, not pre's
    val preChecked = checkSchema(df, pre.headers, s"append at $root",
      mergeSchema)
    val entries =
      writeDataFiles(toPhysical(df, preChecked), root,
        pre.clusterCol, buckets)
    var attempt = 0
    while (attempt <= maxRetries) {
      val cur = latestSnapshot(spark, root)
      // schema validation + union-widening against THIS attempt's tip
      val headers =
        checkSchema(df, cur.headers, s"append at $root", mergeSchema)
      if (tryCommit(spark, root, cur.version + 1, headers,
          entryLines(cur) ++ dvLines(cur) ++ entries))
        return cur.version + 1
      attempt += 1
    }
    throw new CommitConflict(
      s"append at $root lost $maxRetries commit races")
  }

  /** Exactly-once streaming ingest face, for
    * `writeStream.foreachBatch((b, id) => TxTable.addStreamingBatch(
    * b, root, "harvest", id))`: Structured Streaming re-delivers a
    * batch after restart, so the commit is keyed by the per-stream
    * HIGH-WATER batch id in the manifest — a batch at or below it is
    * a duplicate delivery and skips without writing (returns None).
    * Batch ids from one stream arrive monotonically (the foreachBatch
    * contract), which is what makes one high-water header per stream
    * a complete dedup record. Returns the committed version.
    */
  def addStreamingBatch(
      df: DataFrame, root: String, streamId: String, batchId: Long,
      maxRetries: Int = 10, buckets: Int = 8): Option[Long] = {
    require(!streamId.contains("=") && !streamId.contains("\n"),
      s"streamId must not contain '=' or newlines: $streamId")
    val spark = df.sparkSession
    val key = s"stream:$streamId"
    def committed(s: Snapshot) =
      s.headers.get(key).exists(_.toLong >= batchId)
    val pre = latestSnapshot(spark, root)
    if (committed(pre)) return None
    checkSchema(df, pre.headers, s"addStreamingBatch at $root")
    val entries =
      writeDataFiles(toPhysical(df, pre.headers), root,
        pre.clusterCol, buckets)
    var attempt = 0
    while (attempt <= maxRetries) {
      val cur = latestSnapshot(spark, root)
      if (committed(cur)) return None // raced with our own redelivery
      if (tryCommit(spark, root, cur.version + 1,
          cur.headers + (key -> batchId.toString),
          entryLines(cur) ++ dvLines(cur) ++ entries))
        return Some(cur.version + 1)
      attempt += 1
    }
    throw new CommitConflict(
      s"addStreamingBatch at $root lost $maxRetries commit races")
  }

  /** Transactional MERGE INTO: resolve the latest snapshot, apply
    * [[graft.operators.MergeUpsert]] CDC semantics, publish the result
    * as one atomic new version. The `action` column is merge-run
    * metadata, not table state — it is not persisted. Returns the new
    * version.
    *
    * Conflict handling (the harvest-while-serving hazard — cf. the
    * reference's soft-delete upserts, `tests/test_serve.py:274-306`):
    * a merge is read-modify-write over the WHOLE table, so a commit
    * that interleaves between snapshot resolution and publish makes
    * the derived result stale — publishing it anyway would silently
    * drop the interleaved commit's rows (the lost-update anomaly).
    * The `Rename.NONE` CAS refuses the stale publish; then:
    *   - `maxRetries = 0` (default): throw [[CommitConflict]] — the
    *     caller re-runs against the new snapshot;
    *   - `maxRetries > 0`: RE-READ the latest snapshot, RE-RUN the
    *     entire merge against it (the source is re-evaluated — it
    *     must be deterministic, the standard multi-pass contract),
    *     and try the next version. Every committed version v+1 thus
    *     equals merge(snapshot v, source) EXACTLY, so concurrent
    *     merges serialize in commit order — the final table equals
    *     the serial replay of the merges in version order (asserted
    *     cross-process by TxRaceSpec's two-JVM merge race). Data
    *     files written for a lost attempt are unreferenced and
    *     reclaimed by [[vacuum]].
    */
  def mergeInto(
      root: String, source: DataFrame, keyCol: String,
      valueCols: Seq[String], tombstoneCol: String,
      buckets: Int = 8, maxRetries: Int = 0): Long = {
    val spark = source.sparkSession
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val cur = latestSnapshot(spark, root)
      val target = readVersion(spark, root, cur.version)
      val merged = graft.operators.MergeUpsert.merge(
          target, source, keyCol, valueCols, tombstoneCol)
        .drop("action")
      // change feed enabled: the SAME commit also publishes explicit
      // row-level change files ([[mergeChanges]] — source-bounded,
      // never table-bounded), so the change stream tracks this merge
      // instead of failing on its rewrite
      val cdcEntries =
        if (!cur.headers.get("cdc").contains("true")) Seq.empty[String]
        else {
          val rel = s"cdc/${UUID.randomUUID()}"
          // physical field names like every corpus file — the stream's
          // record reader resolves by the declared physical name
          toPhysical(
              mergeChanges(target, source, keyCol, valueCols, tombstoneCol),
              cur.headers)
            .coalesce(math.max(1, buckets))
            .write.parquet(new Path(root, rel).toString)
          val f = fs(spark, new Path(root, rel))
          f.listStatus(new Path(root, rel)).toSeq
            .map(_.getPath.getName)
            .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
            .sorted
            .map(n => s"$rel/$n")
        }
      val entries = writeDataFiles(toPhysical(merged, cur.headers), root,
        cur.clusterCol, buckets) ++ cdcEntries
      if (tryCommit(spark, root, cur.version + 1, cur.headers, entries))
        committed = cur.version + 1
      else if (attempt >= maxRetries)
        throw new CommitConflict(
          s"mergeInto at $root: snapshot v${cur.version} went stale " +
            "during the merge; re-run against the new snapshot")
      else attempt += 1
    }
    committed
  }

  /** Enable/disable the table's CHANGE FEED (header `cdc=true` — the
    * Delta `enableChangeDataFeed` shape): while enabled, every
    * [[mergeInto]] commit writes its row-level changes (`insert`,
    * `update_preimage`/`update_postimage` for matched upserts,
    * `delete` for matched tombstones) as explicit parquet under the
    * manifest's `cdc/` namespace, in the SAME commit as the rewrite —
    * so [[readChangeStream]] can track the table through the
    * reference's upsert-heavy harvest traffic instead of failing on
    * the rewrite guard. Opt-in because the change extraction costs
    * one extra source-keys join against the target per merge.
    * Read-modify-write conflict semantics. Returns the new version.
    */
  def setChangeFeed(
      spark: SparkSession, root: String, enabled: Boolean): Long = {
    val cur = latestSnapshot(spark, root)
    val headers =
      if (enabled) cur.headers + ("cdc" -> "true") else cur.headers - "cdc"
    if (!tryCommit(spark, root, cur.version + 1, headers,
        entryLines(cur) ++ dvLines(cur)))
      throw new CommitConflict(
        s"setChangeFeed at $root: snapshot v${cur.version} went stale")
    cur.version + 1
  }

  /** The row-level changes one merge produces, in the Delta-CDF shape:
    * one `target RIGHT JOIN source` on the key (output bounded by the
    * SOURCE — the CDC feed of a harvest batch, never the table;
    * broadcasts when the source does), exploded into tagged rows:
    * matched tombstone → `delete` (pre-image values); matched upsert →
    * `update_preimage` + `update_postimage`; unmatched upsert →
    * `insert`; unmatched tombstone → nothing (MERGE's no-op). The
    * untouched rest of the table appears in NO change row — exactly
    * what lets a consumer fold the feed instead of re-reading the
    * rewrite.
    */
  private def mergeChanges(
      target: DataFrame, source: DataFrame, keyCol: String,
      valueCols: Seq[String], tombstoneCol: String): DataFrame = {
    val t = target.select(col(keyCol),
      struct(valueCols.map(col): _*).as("_tv"))
    val s = source.select(col(keyCol),
      struct(valueCols.map(col): _*).as("_sv"),
      coalesce(col(tombstoneCol), lit(false)).as("_del"))
    t.join(s, Seq(keyCol), "right")
      .filter(col("_tv").isNotNull || !col("_del"))
      .select(col(keyCol), explode(
        when(col("_tv").isNotNull && col("_del"),
          array(struct(col("_tv").as("v"), lit("delete").as("ct"))))
        .when(col("_tv").isNotNull,
          array(
            struct(col("_tv").as("v"), lit("update_preimage").as("ct")),
            struct(col("_sv").as("v"), lit("update_postimage").as("ct"))))
        .otherwise(
          array(struct(col("_sv").as("v"), lit("insert").as("ct")))))
        .as("_c"))
      .select(col(keyCol) +:
        valueCols.map(c => col("_c.v").getField(c).as(c)) :+
        col("_c.ct").as("_change_type"): _*)
  }

  /** RESTORE the table to an earlier version AS A NEW COMMIT (the
    * Delta `RESTORE` shape): version v+1 re-lists `toVersion`'s
    * complete state — data files, stats, deletion vectors, and
    * headers — so the rollback is itself versioned,
    * auditable, and concurrent-safe (rename-arbitrated like every
    * commit; a lost race means the tip moved and the caller decides
    * against the new history). Nothing is copied: manifests reference
    * immutable files, so restore is a KB-scale manifest write no
    * matter the table size — but the restored files must still exist
    * ([[vacuum]] retention gates how far back a restore can reach;
    * the [[readVersion]] manifest check fails fast past the horizon).
    * Returns the new version.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val cur = latestSnapshot(spark, root)
    require(toVersion <= cur.version,
      s"restore at $root: version $toVersion is ahead of v${cur.version}")
    val target = snapshot(spark, root, toVersion)
    if (!tryCommit(spark, root, cur.version + 1, target.headers,
        entryLines(target) ++ dvLines(target)))
      throw new CommitConflict(
        s"restore at $root: snapshot v${cur.version} went stale")
    cur.version + 1
  }

  /** MERGE-ON-READ delete: rows matching `predicate` disappear from
    * every subsequent read WITHOUT rewriting a single data byte — the
    * deletion-vector design (Delta DVs / Iceberg position deletes,
    * re-derived on public primitives): the matching rows' POSITIONS
    * (root-relative file, `_metadata.row_index`) persist as parquet
    * under `dv/<uuid>/`, the manifest lists them in the `dv/`
    * namespace, and readers anti-join positions during the scan. At
    * 100 TB this turns a GDPR-style delete from a table-scale rewrite
    * ([[mergeInto]] tombstones — copy-on-write) into one predicate
    * scan plus KB–MB of position rows.
    *
    * Contracts:
    *  - cost: one DV-aware scan of the table (the predicate pushes
    *    down normally) + one position write; read-side cost is one
    *    anti-join against the accumulated positions until a rewrite
    *    materializes them.
    *  - [[mergeInto]]/[[compact]] MATERIALIZE deletes:
    *    they read through the DVs and rewrite survivors, so their
    *    commits drop the `dv/` lines; [[autoCompact]] carries them
    *    (positions of rewritten small files go stale harmlessly —
    *    they reference file names no manifest lists).
    *  - double deletes are no-ops: the matching scan is itself
    *    DV-aware, so already-deleted rows can't re-match. A predicate
    *    matching nothing commits nothing and returns the current
    *    version.
    *  - optimistic retry like [[append]]: a lost race re-reads the
    *    latest snapshot and re-runs the matching scan.
    *
    * Returns the committed version (or the current one for an empty
    * match).
    */
  def deleteWhere(
      spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      maxRetries: Int = 10, dvBuckets: Int = 1): Long =
    deleteImpl(spark, root, _.filter(predicate), _.files, maxRetries,
      dvBuckets)

  /** [[deleteWhere]] for an explicit KEY SET: rows whose `keyCol`
    * equals any key of `keys` (deduplicated here) are DV-masked via a
    * BROADCAST SEMI-JOIN — the at-scale form of `isInCollection` for
    * key sets too large to inline. A retention-window CDC catch-up
    * batch can carry 10⁵+ delete keys; as an `In` literal list those
    * are 10⁵ expression nodes the driver analyzes/codegens BEFORE any
    * data is read (plan-size blowup), and parquet pushdown gives up
    * far below that anyway. The semi-join keeps the plan O(1), ships
    * the keys once per executor, and stays exact. Same DV semantics
    * and retry loop as [[deleteWhere]].
    */
  def deleteKeys(
      spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame, maxRetries: Int = 10, dvBuckets: Int = 1): Long = {
    val k = keys.select(col(keyCol)).distinct()
    deleteImpl(spark, root,
      _.join(broadcast(k), Seq(keyCol), "left_semi"),
      _.files, maxRetries, dvBuckets)
  }

  /** [[deleteWhere]] restricted to the cluster column's range
    * [lo, hi], with the matching scan FILE-PRUNED by manifest stats —
    * a key-range delete on a 100 TB clustered table opens only the
    * files whose [min,max] overlaps the range (the [[readRange]]
    * skipping applied to the write side). Exact regardless of stats:
    * the row predicate still gates every position.
    */
  def deleteRange(
      spark: SparkSession, root: String, lo: Long, hi: Long,
      maxRetries: Int = 10, dvBuckets: Int = 1): Long = {
    val snap = latestSnapshot(spark, root)
    val c = snap.clusterCol.getOrElse(
      throw new IllegalArgumentException(
        s"TxTable $root has no cluster column; deleteRange needs one"))
    deleteImpl(spark, root, _.filter(col(c).between(lo, hi)),
      s => prunedFiles(s, lo, hi), maxRetries, dvBuckets)
  }

  private def deleteImpl(
      spark: SparkSession, root: String,
      matcher: DataFrame => DataFrame,
      candidates: Snapshot => Seq[String],
      maxRetries: Int, dvBuckets: Int): Long = {
    var attempt = 0
    while (true) {
      val cur = latestSnapshot(spark, root)
      val cand = candidates(cur)
      if (cand.isEmpty) return cur.version // no file can match
      // DV-aware scan with positions: already-deleted rows can't match
      // (schema-specified so a predicate on an evolved column works
      // against pre-evolution files). The scan resolves by PHYSICAL
      // name; logical names are restored before the caller's predicate
      // sees a column (column mapping — the position columns ride).
      val base = cur.tableSchema.map(physicalSchema)
        .fold(spark.read)(spark.read.schema)
        .parquet(cand.map(f => s"$root/$f"): _*)
      val withPosPhys = base.select(col("*"),
        expr("regexp_extract(_metadata.file_path, " +
          "'(data/[^/]+/[^/]+)$', 1)").as("_dv_f"),
        col("_metadata.row_index").as("_dv_ri"))
      val withPos = cur.tableSchema match {
        case Some(st) if hasMapping(st) =>
          withPosPhys.select(st.fields.map(f =>
            col(physicalName(f)).as(f.name)) ++
            Seq(col("_dv_f"), col("_dv_ri")): _*)
        case _ => withPosPhys
      }
      val live =
        if (cur.dvFiles.isEmpty) withPos
        else withPos.join(
          spark.read.parquet(cur.dvFiles.map(f => s"$root/$f"): _*)
            .select(col("file").as("_dv_f"), col("row_index").as("_dv_ri")),
          Seq("_dv_f", "_dv_ri"), "left_anti")
      val hits = matcher(live)
        .select(col("_dv_f").as("file"), col("_dv_ri").as("row_index"))
      val rel = s"dv/${UUID.randomUUID()}"
      val dest = new Path(root, rel)
      hits.coalesce(math.max(1, dvBuckets))
        .write.parquet(dest.toString)
      val f = fs(spark, dest)
      val names = f.listStatus(dest).toSeq
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
        .sorted
      // an empty position file (KB–MB to read back) means no match
      if (spark.read.parquet(dest.toString).isEmpty) {
        f.delete(dest, true) // nothing matched: no commit, no garbage
        return cur.version
      }
      if (tryCommit(spark, root, cur.version + 1, cur.headers,
          entryLines(cur) ++ dvLines(cur) ++ names.map(nm => s"$rel/$nm")))
        return cur.version + 1
      // lost the race: unstage the positions and retry against the new tip
      f.delete(dest, true)
      attempt += 1
      if (attempt > maxRetries)
        throw new CommitConflict(
          s"deleteWhere at $root lost $maxRetries commit races")
    }
    -1L // unreachable
  }

  /** Rewrite the table into `buckets` files — the small-file
    * compaction per-batch streaming commits need (every micro-batch
    * adds files; the read amortizes only if something folds them back
    * down). Contents are bit-identical (same rows, re-clustered, DVs
    * materialized); read-modify-write conflict semantics. Returns the
    * new version.
    */
  def compact(spark: SparkSession, root: String, buckets: Int = 8): Long = {
    val cur = latestSnapshot(spark, root)
    // the rewrite lands under PHYSICAL names (by-name consistency with
    // every older file)
    val all = toPhysical(readVersion(spark, root, cur.version), cur.headers)
    val entries = writeDataFiles(
      if (cur.clusterCol.isEmpty) all.coalesce(buckets) else all,
      root, cur.clusterCol, buckets)
    if (!tryCommit(spark, root, cur.version + 1, cur.headers, entries))
      throw new CommitConflict(
        s"compact at $root: snapshot v${cur.version} went stale")
    cur.version + 1
  }

  /** Incremental compaction — the production OPTIMIZE shape: rewrite
    * ONLY files smaller than `smallBytes`, bin-packed into
    * ~`targetBytes` outputs, and keep every already-large file
    * untouched (its bytes are never read or rewritten). A full
    * [[compact]] rewrites the whole table every time — at 100 TB that
    * is a table-scale write to fold in a few KB-scale streaming
    * commits; this touches |small files| only, so the cost tracks the
    * accretion rate, not the table size. No-op (returns None) when
    * fewer than `minSmallFiles` qualify. Read-modify-write conflict
    * semantics like [[compact]]. Returns the committed version.
    */
  def autoCompact(
      spark: SparkSession, root: String, smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20, minSmallFiles: Int = 4): Option[Long] = {
    val cur = latestSnapshot(spark, root)
    val f = fs(spark, new Path(root))
    val sized = cur.files.map { rel =>
      rel -> f.getFileStatus(new Path(root, rel)).getLen
    }
    val (small, large) = sized.partition(_._2 < smallBytes)
    if (small.size < minSmallFiles) return None
    val smallDf = readFiles(spark, root, small.map(_._1), cur.dvFiles,
      cur.tableSchema)
    val outFiles = math.max(1,
      math.ceil(small.map(_._2).sum.toDouble / targetBytes).toInt)
    val entries = writeDataFiles(toPhysical(smallDf, cur.headers), root,
      cur.clusterCol, outFiles)
    val keptLarge = large.map(_._1).toSet
    val keptLines = entryLines(cur).filter { line =>
      keptLarge.contains(line.split("\t").head)
    }
    if (!tryCommit(spark, root, cur.version + 1, cur.headers,
        keptLines ++ entries ++ dvLines(cur)))
      throw new CommitConflict(
        s"autoCompact at $root: snapshot v${cur.version} went stale")
    Some(cur.version + 1)
  }

  /** Drop data files referenced by NO kept version (the newest
    * `keepVersions` manifests survive; older manifests are removed),
    * plus orphaned temp manifests from crashed commit attempts.
    *
    * `retentionMs` is the writer-safety window (Delta-style): writers
    * stage data files BEFORE their manifest commits, so an
    * unreferenced dir may belong to an IN-FLIGHT commit, not a dead
    * one. Only dirs whose every file is older than `retentionMs` are
    * deleted — run with the default (24 h) and any writer that
    * started inside the window is safe. `retentionMs = 0` deletes
    * immediately and is correct ONLY with concurrent writers (and
    * readers of vacuumed versions) excluded.
    *
    * READER contract (pinned by TxVacuumRaceSpec, two JVMs): a
    * time-travel frame resolves its FILE LIST at [[readVersion]] time,
    * so a reader holding version N keeps scanning correctly after N's
    * MANIFEST is dropped — as long as N's data files are younger than
    * `retentionMs` (they are, for any read that started inside the
    * window: a file can only become unreferenced by a LATER rewrite).
    * A reader that outlives the window races physical deletion and
    * fails with missing-file errors — the Delta/Iceberg contract:
    * size `retentionMs` to the longest query + time-travel horizon
    * you serve, because vacuum bounds BOTH. New `snapshot`/
    * [[readVersion]]/[[readChanges]]/[[readChangesTyped]] calls for a
    * dropped version fail immediately with
    * [[VacuumedVersionException]] naming the oldest survivor — the
    * visible edge of the horizon. For CDC this is the Delta CDF
    * retention contract: a consumer whose `fromVersion` predates the
    * sweep gets the crisp throw, never a silently partial feed
    * (`cdc/` dirs are swept under the same window, but their manifest
    * dies first, so the throw always precedes any missing-file read).
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2,
      retentionMs: Long = 24L * 3600 * 1000): Unit = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val vs = versions(spark, root)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val keptSnaps = keep.map(v => snapshot(spark, root, v))
    val live = keptSnaps
      .flatMap(s => s.files ++ s.dvFiles ++ s.cdcFiles)
      .toSet
    val f = fs(spark, new Path(root))
    val horizon = System.currentTimeMillis() - retentionMs
    def sweepDir(nsRel: String): Unit = {
      val dir = new Path(root, nsRel)
      if (!f.exists(dir)) return
      f.listStatus(dir).foreach { sub =>
        val subRel = s"$nsRel/${sub.getPath.getName}"
        val all = f.listStatus(sub.getPath).toSeq
        val unreferenced =
          all.forall(st => !live.contains(s"$subRel/${st.getPath.getName}"))
        val pastRetention = sub.getModificationTime <= horizon &&
          all.forall(_.getModificationTime <= horizon)
        if (unreferenced && pastRetention) f.delete(sub.getPath, true)
      }
    }
    sweepDir("data")
    // deletion-vector dirs: same unreferenced+past-retention rule
    sweepDir("dv")
    // change-data dirs: referenced only by the one manifest that wrote
    // them, reclaimed once that version drops out of the kept window
    sweepDir("cdc")
    // temp manifests past retention are crash leftovers, never
    // in-flight (a commit writes and renames them within one call)
    val ld = logDir(root)
    if (f.exists(ld)) f.listStatus(ld).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".tmp-") && n.endsWith(".txn") &&
          st.getModificationTime <= horizon)
        f.delete(st.getPath, false)
    }
    drop.foreach(v => f.delete(manifestPath(root, v), false))
  }
}
