package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-owned PARTITIONED snapshot table: the incremental sibling of
  * [[Streams.commitSnapshot]]'s whole-table versions. A version's data
  * directory `d_<v>/<partCol>=<value>/` holds only the partitions that
  * version REWROTE; a JSON manifest maps every live partition value to the
  * version that owns it, and the `_LATEST` pointer flips to the new
  * manifest. Merge I/O is therefore proportional to the TOUCHED partitions,
  * never the table — the property that makes keyed maintenance of a 100 TB
  * corpus affordable (cf. the reference's whole-frame Snapshot,
  * TDataFrame.hxx; this is the maintenance layer it has no analog for).
  *
  * Every commit publishes through [[Commit]] (single writer; the `d_<v>`
  * directory is claimed and `m_<v>.json` created exclusively, then one
  * fenced flip). Readers are never torn because data and manifest are
  * immutable once the pointer flips, and a crashed commit leaves only an
  * unreferenced `d_<v>` / `m_<v>.json` (swept by [[vacuum]] behind an
  * mtime grace window).
  *
  * Reads group live partitions by owning version — ONE parquet read per
  * live version (`basePath` keeps the partition column), unioned by name.
  * Version count is the read-amplification knob: [[rewriteAll]] re-bases
  * everything into a single version when the chain grows long.
  */
object PartitionedSnapshot {

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A column added AFTER data was written (schema evolution): versions
    * committed before it carry no such parquet column, and readers fill
    * `defaultSql` (a constant SQL expression) cast to `dataType` instead —
    * the Delta/Iceberg "add column with default" semantic, metadata-only.
    */
  case class AddedCol(name: String, dataType: String, defaultSql: String)

  /** owners: partition value (as string, the hive dir-name form) -> version;
    * droppedCols: columns retired by [[dropColumn]] — still physically
    * present in old versions' files, projected out by every reader.
    */
  private[streaming] case class Manifest(
      version: Long, owners: Map[String, Long],
      addedCols: Seq[AddedCol] = Nil, droppedCols: Seq[String] = Nil)

  private def manifestPath(dir: String, v: Long) =
    new org.apache.hadoop.fs.Path(dir, s"m_$v.json")

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Create `m_<v>.json` and flip `_LATEST` to it; `prior` is the manifest
    * this commit was derived from.
    */
  private def writeManifest(
      spark: SparkSession, dir: String, m: Manifest, prior: Option[Manifest],
      op: String): Unit = {
    // flat line-oriented format, no JSON library needed: version, then one
    // "#addcol\t<name>\t<type>\t<defaultSql>" / "#dropcol\t<name>" line per
    // evolved column, then one "<ownerVersion>\t<partitionValue>" line per
    // live partition
    val body = (s"version=${m.version}" +:
      (m.addedCols.map(c => s"#addcol\t${c.name}\t${c.dataType}\t${c.defaultSql}") ++
        m.droppedCols.map(c => s"#dropcol\t$c") ++
        m.owners.toSeq.sortBy(_._1).map { case (p, v) => s"$v\t$p" })).mkString("\n")
    Commit.createNew(conf(spark), manifestPath(dir, m.version).toString, body)
    Commit.flip(conf(spark), dir, "_LATEST", m.version, s"m_${m.version}",
      prior.map(p => s"m_${p.version}"), op)
  }

  private[streaming] def readManifest(
      spark: SparkSession, dir: String): Option[Manifest] = {
    val v = Commit.read(conf(spark), dir, "_LATEST").getOrElse(return None)
      .stripPrefix("m_").toLong
    val mIn = fsOf(spark, dir).open(manifestPath(dir, v))
    val lines = try scala.io.Source.fromInputStream(mIn, "UTF-8").getLines().toList
    finally mIn.close()
    // meta detection is STRICT: only the two known meta prefixes are meta;
    // any other '#'-leading line fails loudly instead of being silently
    // filtered. (Owner lines are "<version>\t<partValue>" so they lead with
    // a digit even when the partition VALUE starts with '#' — this guard is
    // for format drift, where silent data loss would be the failure mode.)
    val (metaLines, ownerLines) =
      lines.drop(1).filter(_.nonEmpty).partition(l =>
        l.startsWith("#addcol\t") || l.startsWith("#dropcol\t"))
    ownerLines.find(_.startsWith("#")).foreach { l =>
      throw new IllegalStateException(
        s"unrecognized manifest meta line under $dir: '$l' - refusing to " +
          "silently drop it (newer writer format?)")
    }
    val owners = ownerLines.map { l =>
      val Array(ov, part) = l.split("\t", 2)
      part -> ov.toLong
    }.toMap
    val addedCols = metaLines.filter(_.startsWith("#addcol\t")).map { l =>
      val Array(_, name, dt, dflt) = l.split("\t", 4)
      AddedCol(name, dt, dflt)
    }
    val droppedCols = metaLines.filter(_.startsWith("#dropcol\t"))
      .map(_.split("\t", 2)(1))
    Some(Manifest(v, owners, addedCols, droppedCols))
  }

  /** Hive dir-name form of a partition value — must match what
    * `write.partitionBy` produces so manifest keys and directory names
    * agree (null becomes the hive default partition name).
    */
  private def partDirName(v: Any): String =
    if (v == null) "__HIVE_DEFAULT_PARTITION__" else v.toString

  /** Apply a change batch to the table: `deletes` keys drop first, then
    * `batch` rows replace same-key rows / append new keys — exactly
    * [[Streams.upsertSnapshot]]'s semantics, but only the partitions
    * present in `batch` or `deletes` are read, merged and rewritten.
    * `partCol` must be one of `batch`'s columns (and, for deletes, one of
    * the delete frame's — a delete must name its partition; that is what
    * keeps the touched set knowable without scanning the table).
    * Returns the committed version.
    */
  def upsert(
      batch: Dataset[Row], tableDir: String, keyCols: Seq[String],
      partCol: String, deletes: Option[DataFrame] = None): Long = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(batch.columns.contains(partCol), s"batch must carry $partCol")
    deletes.foreach(d => require(
      d.columns.contains(partCol) && keyCols.forall(d.columns.contains),
      s"deletes must carry $partCol and the key columns"))
    val spark = batch.sparkSession
    val cur = readManifest(spark, tableDir)
    val v = cur.map(_.version + 1).getOrElse(0L)

    // touched partition values: batch ∪ deletes — bounded by the change
    // set's partition count (the broadcast-build pattern, not a data scan)
    val touchedDf = batch.select(col(partCol)).union(
      deletes.map(_.select(col(partCol))).getOrElse(batch.select(col(partCol)).limit(0)))
    val touched = touchedDf.distinct().collect().map(r => partDirName(r.get(0))).toSet

    // after evolution, writers write the FULL current schema: a batch
    // missing an added column would silently regress it to the default,
    // and one carrying a dropped column would silently resurrect it
    cur.toSeq.flatMap(_.addedCols).foreach(c => require(
      batch.columns.contains(c.name),
      s"batch must carry evolved column ${c.name} (added via addColumn)"))
    cur.toSeq.flatMap(_.droppedCols).foreach(c => require(
      !batch.columns.contains(c),
      s"batch must not carry dropped column $c (retired via dropColumn)"))
    val currentTouched: Option[DataFrame] = cur.flatMap { m =>
      val live = m.owners.filter { case (p, _) => touched.contains(p) }
      if (live.isEmpty) None
      else Some(readPartitions(spark, tableDir, live, m.addedCols, m.droppedCols))
    }
    val merged = currentTouched match {
      case None => batch.toDF
      case Some(c) =>
        require(c.schema.map(f => (f.name, f.dataType)).toSet ==
            batch.schema.map(f => (f.name, f.dataType)).toSet,
          s"upsert schema mismatch: ${c.schema.simpleString} vs ${batch.schema.simpleString}")
        val afterDel = deletes match {
          case Some(d) => c.join(
            d.select((keyCols :+ partCol).distinct.map(col): _*), keyCols, "left_anti")
          case None => c
        }
        afterDel.join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(batch.toDF, allowMissingColumns = false)
    }
    // partitions actually written (a fully-deleted partition writes no dir
    // and must leave the manifest); everything else carries its old owner
    val writtenParts = writeVersion(spark, tableDir, v, merged, partCol)
    val prevOwners = cur.map(_.owners).getOrElse(Map.empty)
    val owners = prevOwners.filter { case (p, _) => !touched.contains(p) } ++
      writtenParts.map(_ -> v)
    writeManifest(spark, tableDir,
      Manifest(v, owners, cur.map(_.addedCols).getOrElse(Nil),
        cur.map(_.droppedCols).getOrElse(Nil)), cur, "upsert")
    v
  }

  /** Claim and write `d_<v>` partitioned by `partCol`; returns the
    * partition values it holds.
    */
  private def writeVersion(
      spark: SparkSession, tableDir: String, v: Long, rows: DataFrame,
      partCol: String): Set[String] = {
    val dpath = s"$tableDir/d_$v"
    Commit.claim(conf(spark), dpath)
    rows.write.mode("overwrite").partitionBy(partCol).parquet(dpath)
    fsOf(spark, tableDir).listStatus(new org.apache.hadoop.fs.Path(dpath))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol=")).map(_.stripPrefix(s"$partCol="))
      .toSet
  }

  /** ONE read per owning version (basePath preserves the partition
    * column), restricted to that version's live leaf dirs, then a
    * by-name union — never a per-partition read fan-out. Versions written
    * BEFORE a column was added ([[addColumn]]) lack its parquet column and
    * get the declared default filled in scan-level — per VERSION, so a
    * version that already materialized the column is never overwritten.
    */
  private def readPartitions(
      spark: SparkSession, tableDir: String,
      owners: Map[String, Long],
      addedCols: Seq[AddedCol] = Nil,
      droppedCols: Seq[String] = Nil): DataFrame = {
    val byVersion = owners.groupBy(_._2).toSeq.sortBy(_._1)
    val parts = byVersion.map { case (v, ps) =>
      val base = s"$tableDir/d_$v"
      val pc = partColName(spark, tableDir, v)
      val leaves = ps.keys.toSeq.sorted.map(p => s"$base/$pc=$p")
      val df = spark.read.option("basePath", base).parquet(leaves: _*)
        .drop(droppedCols: _*)
      addedCols.filterNot(c => df.columns.contains(c.name)).foldLeft(df) {
        (d, c) => d.withColumn(c.name, expr(c.defaultSql).cast(c.dataType))
      }
    }
    parts.reduce(_.unionByName(_))
  }

  /** partition column name of a version dir, discovered from its layout */
  private def partColName(
      spark: SparkSession, tableDir: String, v: Long): String = {
    val fs = fsOf(spark, tableDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$tableDir/d_$v"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .find(_.contains("="))
      .map(_.split("=", 2)(0))
      .getOrElse(throw new IllegalStateException(s"no partition dirs under d_$v"))
  }

  /** Read the table (optionally a subset of partition values): resolve the
    * manifest, touch only the owning leaf directories. A partition-value
    * predicate therefore never opens an unrelated partition's files — the
    * manifest IS the partition index.
    */
  def read(
      spark: SparkSession, tableDir: String,
      partValues: Option[Set[String]] = None): DataFrame = {
    val m = readManifest(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $tableDir"))
    val live = partValues match {
      case Some(ps) => m.owners.filter { case (p, _) => ps.contains(p) }
      case None => m.owners
    }
    require(live.nonEmpty, s"no live partitions selected under $tableDir")
    readPartitions(spark, tableDir, live, m.addedCols, m.droppedCols)
  }

  /** Re-base the whole table into one fresh version — the read-amplification
    * reset after many incremental commits (live-version count returns to 1).
    */
  def rewriteAll(spark: SparkSession, tableDir: String, partCol: String): Long = {
    val m = readManifest(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $tableDir"))
    val v = m.version + 1
    val writtenParts = writeVersion(spark, tableDir, v, read(spark, tableDir), partCol)
    // the rewrite materialized every evolved column's values into the data
    // files (read() fills defaults), so the addcol metadata is retired —
    // rewriteAll doubles as schema compaction
    writeManifest(spark, tableDir, Manifest(v, writtenParts.map(_ -> v).toMap),
      Some(m), "rewriteAll")
    v
  }

  /** METADATA-ONLY partition drop: commit a new manifest without the named
    * partitions — no data file is read or written (the dropped versions'
    * files become unreferenced and [[vacuum]] reclaims them later). This is
    * the O(1) retention op a date-partitioned 100 TB table runs daily
    * ("drop everything older than N days"); a row-level delete through
    * [[upsert]] would rewrite the partition instead. Same single-writer
    * fence as every commit here. Returns the committed version.
    */
  def dropPartitions(
      spark: SparkSession, tableDir: String, partValues: Set[String]): Long = {
    val m = readManifest(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $tableDir"))
    val remaining = m.owners.filter { case (p, _) => !partValues.contains(p) }
    require(remaining.nonEmpty,
      s"dropping ${partValues.size} partitions would empty the table under $tableDir")
    val v = m.version + 1
    writeManifest(spark, tableDir,
      Manifest(v, remaining, m.addedCols, m.droppedCols), Some(m), "dropPartitions")
    v
  }

  /** METADATA-ONLY schema evolution: add a column with a constant default —
    * no data file is read or written (the Delta/Iceberg "add column"
    * semantic; a backfill through [[upsert]] would rewrite the table).
    * Readers fill `defaultSql` cast to `dataType` for every version written
    * before this commit; later [[upsert]] batches MUST carry the column
    * (enforced), so its real values only ever come from writers.
    * [[rewriteAll]] materializes the defaults into data files and retires
    * the metadata entry. Same single-writer fence as every commit here.
    * Returns the committed version.
    */
  def addColumn(
      spark: SparkSession, tableDir: String,
      name: String, dataType: String, defaultSql: String): Long = {
    val m = readManifest(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $tableDir"))
    require(!m.addedCols.exists(_.name == name),
      s"column $name already added to $tableDir")
    // a dropped name cannot be re-added: old files still physically carry
    // it, so the default would not apply there and readers would resurrect
    // stale values
    require(!m.droppedCols.contains(name),
      s"column $name was dropped from $tableDir; rewriteAll before re-adding")
    // physical-existence check only applies when live partitions exist (an
    // upsert can delete every partition; the evolve is then metadata-only)
    if (m.owners.nonEmpty)
      require(!readPartitions(spark, tableDir, m.owners, m.addedCols, m.droppedCols)
          .columns.contains(name),
        s"column $name already exists in $tableDir")
    require(!name.contains("\t") && !dataType.contains("\t") &&
      !defaultSql.contains("\t") && !defaultSql.contains("\n"),
      "addColumn metadata must not contain tabs/newlines (manifest format)")
    // the default must parse, be castable, and be CONSTANT now, not at first
    // read: a non-foldable default (rand(), current_timestamp()) would make
    // pre-evolution reads nondeterministic and rewriteAll would freeze one
    // arbitrary sampling of it
    val analyzedDefault = spark.range(1).select(expr(defaultSql).cast(dataType))
      .queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head match {
        // the projected expression is Alias-wrapped, and Alias does not
        // forward foldable — inspect the aliased child
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
    require(analyzedDefault.foldable,
      s"addColumn default must be a constant expression, got: $defaultSql")
    // foldable is per-QUERY constancy: current_timestamp() folds to a
    // literal at each read's optimization, so two reads see two values —
    // the same nondeterminism-across-reads rand() has. Reject the dynamic
    // family explicitly.
    val dynamicFns = Set("current_timestamp", "now", "current_date",
      "localtimestamp", "current_timezone", "current_user", "current_database",
      "current_catalog", "session_user", "user")
    require(!analyzedDefault.exists(e => dynamicFns.contains(e.prettyName)),
      s"addColumn default must not depend on evaluation time/session: $defaultSql")
    val v = m.version + 1
    writeManifest(spark, tableDir,
      Manifest(v, m.owners, m.addedCols :+ AddedCol(name, dataType, defaultSql),
        m.droppedCols), Some(m), "addColumn")
    v
  }

  /** METADATA-ONLY column drop — [[addColumn]]'s retirement twin: the
    * column disappears from every read immediately, no data file is
    * rewritten (old versions still physically carry it; [[rewriteAll]]
    * materializes the narrow schema and retires the entry — until then the
    * storage is the cost of laziness, exactly Delta's drop-column
    * semantic). Later [[upsert]] batches must NOT carry the column
    * (enforced — silently resurrecting it would be worse than rejecting),
    * the partition column and the last data column cannot be dropped, and
    * a dropped name cannot be re-added before a rewrite. Same
    * single-writer fence as every commit here. Returns the committed
    * version.
    */
  def dropColumn(spark: SparkSession, tableDir: String, name: String): Long = {
    val m = readManifest(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $tableDir"))
    require(m.owners.nonEmpty,
      s"table under $tableDir has no live partitions; dropColumn needs the " +
        "physical schema to validate against - upsert data first")
    val current = readPartitions(spark, tableDir, m.owners, m.addedCols, m.droppedCols)
    require(current.columns.contains(name),
      s"column $name does not exist in $tableDir")
    val pc = partColName(spark, tableDir, m.owners.values.max)
    require(name != pc, s"cannot drop partition column $pc")
    require(current.columns.length > 2,
      s"dropping $name would leave no data column in $tableDir")
    val v = m.version + 1
    // an added (still-virtual-anywhere) column keeps its dropcol entry too:
    // versions upserted after the add DO physically carry it
    writeManifest(spark, tableDir,
      Manifest(v, m.owners, m.addedCols.filterNot(_.name == name),
        m.droppedCols :+ name), Some(m), "dropColumn")
    v
  }

  /** Per-partition row counts + owning version, resolved through the
    * manifest — the operational balance/retention signal (the partitioned-
    * table analog of the index family's list-balance stats). One read per
    * live version; counts aggregate partition-locally.
    */
  def partitionStats(spark: SparkSession, tableDir: String): DataFrame = {
    val m = readManifest(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $tableDir"))
    val pc = partColName(spark, tableDir, m.owners.values.max)
    val byVersion = m.owners.groupBy(_._2).toSeq.sortBy(_._1)
    byVersion.map { case (v, ps) =>
      readPartitions(spark, tableDir, ps)
        .groupBy(col(pc)).agg(count(lit(1)).as("n_rows"))
        .withColumn("owner_version", lit(v))
    }.reduce(_.unionByName(_))
  }

  /** Delete version directories no partition references any more, and
    * manifests newer than the live one (a commit that crashed before its
    * flip — left in place, its `m_<v>.json` would refuse every later commit
    * of that version), behind an mtime grace window (same discipline as the
    * index vacuum: never sweep what a racing writer might still be
    * committing).
    */
  def vacuum(
      spark: SparkSession, tableDir: String,
      graceMs: Long = 15 * 60 * 1000L): Unit = {
    val m = readManifest(spark, tableDir).getOrElse(return)
    val liveVersions = m.owners.values.toSet + m.version
    val fs = fsOf(spark, tableDir)
    val now = System.currentTimeMillis()
    fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(s => now - s.getModificationTime > graceMs)
      .filter { s =>
        val name = s.getPath.getName
        if (s.isDirectory && name.startsWith("d_"))
          !liveVersions.contains(name.stripPrefix("d_").toLong)
        else s.isFile && name.startsWith("m_") && name.endsWith(".json") &&
          name.stripPrefix("m_").stripSuffix(".json").toLong > m.version
      }
      .foreach(s => fs.delete(s.getPath, true))
  }
}
