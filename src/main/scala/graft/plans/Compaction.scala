package graft.plans

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the operational tail of every streaming
  * sink. [[graft.streaming.IncrementalSync.start]] and
  * [[graft.streaming.CorpusIngest.start]] write one `batch=<id>`
  * directory per micro-batch (idempotent replay), which at crawl
  * cadence accumulates thousands of kilobyte-scale parquet files; a
  * 100 TB table read through them pays a task per file and a namenode
  * round-trip per footer. Compaction rewrites the accumulated batches
  * into target-size files: read once, repartition to
  * ⌈bytes/targetFileBytes⌉, write once, swap directories.
  *
  * Scale shape: ONE wide job. The input is measured from a single
  * recursive listing (bytes AND file count — no estimates), the
  * repartition is the single shuffle (round-robin — compaction has no
  * key; callers who need co-location recompact through
  * [[ScaleJoins.writeBucketed]] instead; catalog BUCKETED tables must
  * NOT pass through here at all, a blind repartition would scramble
  * their bucket layout), and the `name=value` partition directory
  * layout is detected and preserved via `partitionBy`, so a paused
  * stream can resume appending `batch=<id>` directories afterwards.
  *
  * Durability contract, stated exactly: the rewrite lands in a sibling
  * `<dir>__compact_tmp`; the install is rename(dir → dir__compact_old)
  * then rename(tmp → dir). An EXCEPTION anywhere rolls back to the
  * original. A PROCESS DEATH between the two renames leaves the
  * original intact at `<dir>__compact_old` and nothing at `dir` —
  * recovery is renaming it back; never delete a `__compact_old`
  * directory whose `dir` is missing. [[compactParquet]] performs that
  * recovery itself when re-run in this state, and REFUSES to run when
  * both `dir` and `__compact_old` exist (ambiguous: a death after
  * install but before cleanup, or a second compactor) — the pre-clean
  * only ever deletes `__compact_tmp`. Run ONE compactor per dataset and
  * pause writers first (the swap is not concurrency-safe) — the same
  * contract every table-maintenance job has.
  */
object Compaction {

  /** File-sizing stage for a survivors-only rewrite (delete / version
    * purge): `coalesce` when it preserves the requested sizing, the
    * round-robin `repartition` otherwise. Coalesce merges scan splits
    * with ZERO shuffle (guide §2.4 — the delete sweep's only job is
    * moving surviving rows to new files), but it can only MERGE
    * partitions: when the caller asks for files smaller than the
    * scan's split size (`spark.sql.files.maxPartitionBytes`), coalesce
    * cannot split them and would silently emit oversized files — that
    * case falls back to the shuffle, honoring the explicit request.
    */
  private[plans] def sizeSurvivors(
      df: org.apache.spark.sql.DataFrame,
      parts: Int,
      targetFileBytes: Long): org.apache.spark.sql.DataFrame =
    if (targetFileBytes >=
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
      df.coalesce(parts)
    else df.repartition(parts)

  /** One recursive sweep: (data-file count, data-file bytes) under
    * `path`, skipping every file with a `_`-prefixed name or a
    * `_`-prefixed directory between it and `path` — the bookkeeping
    * (`_SUCCESS`, `_zorder_meta/`, `_version_info/`) Spark's own reader
    * ignores, so the numbers size exactly the data a rewrite reads.
    */
  private[graft] def listData(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): (Long, Long) = {
    val rootDepth = fs.makeQualified(path).depth()
    def bookkeeping(p: org.apache.hadoop.fs.Path): Boolean =
      p.depth() > rootDepth && (p.getName.startsWith("_") || bookkeeping(p.getParent))
    val it = fs.listFiles(path, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !bookkeeping(f.getPath)) {
        files += 1; bytes += f.getLen
      }
    }
    (files, bytes)
  }

  /** Walk the first directory chain collecting `name=value` partition
    * levels — the column names a compacted rewrite must `partitionBy`
    * to reproduce the layout the readers and the resumed writer expect.
    */
  private[plans] def partitionColumns(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = root
    var descend = true
    while (descend) {
      val child = fs.listStatus(p).find(s =>
        s.isDirectory && s.getPath.getName.matches("[^=]+=.+"))
      child match {
        case Some(c) =>
          cols += c.getPath.getName.split("=", 2)(0)
          p = c.getPath
        case None => descend = false
      }
    }
    cols.toSeq
  }

  /** The staged write-new/swap/clean machinery behind every in-place
    * directory rewrite here and in [[ZOrder.reclusterZorder]] —
    * generalized from [[compactParquet]] so each maintenance job gets
    * the SAME durability contract instead of reinventing it: triage
    * crash states (recover `__<tag>_old` when the dataset is missing;
    * refuse when both copies exist; fail fast when neither does),
    * clear a stale `__<tag>_tmp`, run `write` against the tmp path
    * while the live dataset stays untouched and readable, then
    * install via the two renames with exception rollback. `tag` keeps
    * different maintenance jobs' crash states distinguishable on disk
    * (`compact` vs `zorder`).
    */
  private[plans] def stagedParquetSwap(
      spark: SparkSession,
      dir: String,
      tag: String
  )(write: String => Unit): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    val parent = qualified.getParent
    val tmp = new org.apache.hadoop.fs.Path(parent, qualified.getName + s"__${tag}_tmp")
    val old = new org.apache.hadoop.fs.Path(parent, qualified.getName + s"__${tag}_old")
    // Version retention ([[Snapshots.enableVersioning]]): when the
    // sibling __versions root exists, the pre-rewrite copy is archived
    // as v=<n> instead of deleted — the one branch point between the
    // plain and the time-travelable contract.
    val vRoot = Snapshots.versionsRoot(qualified)
    val versioned = fs.exists(vRoot)
    // Crash-state triage BEFORE any delete, enforcing the durability
    // contract above. A death between the two install renames leaves
    // dir missing and the ONLY copy of the data at __<tag>_old —
    // recover it by renaming back, never by deleting. Both present is
    // ambiguous on an unversioned dataset (death after install but
    // before old-cleanup, or a concurrent maintenance job): refuse and
    // let the operator pick. On a VERSIONED dataset the state is
    // unambiguous UNDER THE SINGLE-WRITER CONTRACT (successful runs
    // always archive; only a crash leaves the copy) — so the leftover
    // is archived as its own version and the rewrite proceeds. A
    // second concurrent job could adopt a live job's pre-archive copy
    // and surface as that job's archive failing post-install — the
    // same corruption class concurrency always had here; pause writers
    // and run one maintenance job per dataset, as the object doc says.
    val dirExists = fs.exists(qualified)
    val oldExists = fs.exists(old)
    if (!dirExists && oldExists) {
      if (!fs.rename(old, qualified))
        throw new java.io.IOException(
          s"$tag recovery failed renaming $old back to $dir")
    } else if (!dirExists) {
      throw new java.io.FileNotFoundException(
        s"$tag target $dir does not exist")
    } else if (oldExists && versioned) {
      Snapshots.archive(spark, fs, vRoot, old, s"$tag-recovered")
    } else if (oldExists) {
      throw new java.io.IOException(
        s"refusing to $tag $dir: leftover $old exists alongside the " +
          "dataset (a previous run died after installing the rewritten " +
          "copy but before cleanup, or another maintenance job is " +
          "running) — inspect and remove one copy first")
    }
    fs.delete(tmp, true)
    write(tmp.toString)
    // swap: src -> old, tmp -> src, then archive or drop old (see the
    // durability contract in the object doc)
    if (!fs.rename(qualified, old))
      throw new java.io.IOException(s"$tag swap failed moving $dir aside")
    if (!fs.rename(tmp, qualified)) {
      fs.rename(old, qualified) // restore
      throw new java.io.IOException(s"$tag swap failed installing $tmp")
    }
    if (versioned) Snapshots.archive(spark, fs, vRoot, old, tag)
    else fs.delete(old, true)
  }

  /** Compact the parquet dataset at `dir` in place. Returns
    * (dataFilesBefore, dataFilesAfter). `targetFileBytes` sizes the
    * output files from the MEASURED input bytes (parquet-to-parquet,
    * so compression ratio carries over ~1:1). Partitioned layouts
    * (`name=value` directories) are preserved; `parts` is global, so
    * per-partition file counts follow the data's partition skew.
    */
  def compactParquet(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L << 20
  ): (Long, Long) = {
    require(targetFileBytes > 0)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    var before = -1L
    stagedParquetSwap(spark, dir, "compact") { tmp =>
      val (b, bytes) = listData(fs, qualified)
      before = b
      val partCols = partitionColumns(fs, qualified)
      val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val writer = spark.read.parquet(dir)
        .repartition(parts)
        .write.mode("overwrite")
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(tmp)
    }
    (before, listData(fs, qualified)._1)
  }

  /** Row deletion for a parquet DATASET DIRECTORY — the base-corpus
    * half of the takedown story (the four index families delete via
    * their tombstone verbs; the corpus itself deletes here): rewrite
    * the dataset WITHOUT the rows matching `condition`, staged through
    * [[stagedParquetSwap]] (tag `delete`) so readers never observe a
    * partial dataset and every crash state triages exactly like
    * compaction's. Partition layout (`name=value` directories) is
    * preserved; output files are sized from the measured surviving
    * byte fraction. Unlike the tombstone verbs this is O(dataset) per
    * call — batch takedown requests and run one sweep.
    *
    * Z-ORDER-clustered datasets must NOT pass through here: the
    * round-robin repartition would scramble their layout — the guard
    * refuses and points at [[ZOrder.deleteWhereZorder]], which deletes
    * under the stored clustering contract.
    *
    * @return (rowsBefore, rowsAfter)
    */
  def deleteWhere(
      spark: SparkSession,
      dir: String,
      condition: org.apache.spark.sql.Column,
      targetFileBytes: Long = 128L << 20
  ): (Long, Long) = {
    require(targetFileBytes > 0)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    require(!fs.exists(new org.apache.hadoop.fs.Path(qualified, "_zorder_meta")),
      s"$dir is a z-order clustered dataset — delete with " +
        "ZOrder.deleteWhereZorder to preserve its layout")
    val obsIn = org.apache.spark.sql.Observation(
      s"graft-delete-in-${java.util.UUID.randomUUID()}")
    val obsOut = org.apache.spark.sql.Observation(
      s"graft-delete-out-${java.util.UUID.randomUUID()}")
    val cnt = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("n")
    stagedParquetSwap(spark, dir, "delete") { tmp =>
      val (_, bytes) = listData(fs, qualified)
      val partCols = partitionColumns(fs, qualified)
      val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      // SQL DELETE semantics: a row is deleted only when the predicate
      // is TRUE — a NULL-evaluating row (e.g. a null column under an
      // equality predicate) SURVIVES. A bare !condition is NULL for
      // such rows and filter would silently delete them.
      // coalesce when it preserves sizing, repartition when the caller
      // asked for files smaller than the scan splits — see
      // [[sizeSurvivors]] (guide §2.4: remove shuffles outright; the
      // round-robin repartition shuffled the ENTIRE surviving dataset
      // purely for file sizing)
      val writer = sizeSurvivors(
        spark.read.parquet(dir).observe(obsIn, cnt)
          .filter(!org.apache.spark.sql.functions.coalesce(
            condition, org.apache.spark.sql.functions.lit(false)))
          .observe(obsOut, cnt),
        parts, targetFileBytes)
        .write.mode("overwrite")
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(tmp)
    }
    (obsIn.get("n").asInstanceOf[Long], obsOut.get("n").asInstanceOf[Long])
  }

  /** Keyed upsert (MERGE) for a parquet DATASET DIRECTORY — the
    * update half of the CDC verb set ([[deleteWhere]] is the delete
    * half): rows in `updates` REPLACE base rows sharing their key and
    * INSERT where no base row matches, staged through
    * [[stagedParquetSwap]] (tag `upsert`) so readers never observe the
    * dataset mid-merge and every crash state triages exactly like
    * compaction's and deletion's.
    *
    * Scale shape: the survivors are `base LEFT ANTI JOIN updates` on
    * the key — ONE equi-join whose small side is the update batch
    * (AQE broadcasts it below the threshold; a takedown-sized or
    * CDC-batch-sized frame always is), then a union with the batch.
    * The base is scanned once; O(dataset) output like every in-place
    * rewrite here — batch CDC events and run one sweep per cadence.
    *
    * Loud-failure contract: `updates` carrying two rows with the same
    * key makes the merge ambiguous (which one wins?) — refused with
    * the offending key count rather than resolved arbitrarily. The
    * batch must cover every base column (names resolved
    * case-insensitively via the session resolver, order free); columns
    * the base does NOT have are refused unless `allowNewColumns` opts
    * into schema evolution, in which case they append to the schema
    * and pre-existing rows read null there — the standard additive
    * CDC evolution, never a silent drop. Z-order-clustered datasets
    * are refused and pointed at the layout-preserving verbs, mirroring
    * [[deleteWhere]].
    *
    * @return (rowsBefore, rowsReplaced, rowsAfter) — all three observed
    *         ON the rewrite itself (the rewriteBucketedTable rule:
    *         never re-scan just to read a number). rowsReplaced counts
    *         BASE rows the merge removed; when base keys are unique
    *         that equals the matched batch rows and
    *         rowsAfter − rowsBefore + rowsReplaced equals the batch
    *         size, but a dup-keyed base replaces several rows per key
    *         and only this triple reports that faithfully.
    */
  def upsertParquet(
      spark: SparkSession,
      dir: String,
      updates: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      allowNewColumns: Boolean = false
  ): (Long, Long, Long) = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(targetFileBytes > 0)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    require(!fs.exists(new org.apache.hadoop.fs.Path(qualified, "_zorder_meta")),
      s"$dir is a z-order clustered dataset — merge through the z-order " +
        "verbs to preserve its layout")
    val resolver = spark.sessionState.analyzer.resolver
    keyCols.foreach(k => require(updates.columns.exists(resolver(_, k)),
      s"key column $k is not a column of the updates batch"))
    // the batch is the SMALL side: dup-key detection is one bounded
    // aggregate over it, not a scan of the base dataset
    val dupKeys = updates.groupBy(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .count().filter(org.apache.spark.sql.functions.col("count") > 1).count()
    require(dupKeys == 0L,
      s"updates batch carries $dupKeys duplicate key group(s) on " +
        s"(${keyCols.mkString(", ")}) — the merge would be ambiguous; " +
        "dedup the batch first (e.g. keep the latest event per key)")
    val obsIn = org.apache.spark.sql.Observation(
      s"graft-upsert-in-${java.util.UUID.randomUUID()}")
    val obsKeep = org.apache.spark.sql.Observation(
      s"graft-upsert-keep-${java.util.UUID.randomUUID()}")
    val obsOut = org.apache.spark.sql.Observation(
      s"graft-upsert-out-${java.util.UUID.randomUUID()}")
    val cnt = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("n")
    stagedParquetSwap(spark, dir, "upsert") { tmp =>
      val (_, bytes) = listData(fs, qualified)
      val partCols = partitionColumns(fs, qualified)
      val base = spark.read.parquet(dir)
      val baseCols = base.columns
      require(baseCols.forall(c => updates.columns.exists(resolver(_, c))),
        s"updates schema (${updates.columns.mkString(", ")}) does not cover " +
          s"the dataset's columns (${baseCols.mkString(", ")})")
      val extras = updates.columns
        .filterNot(c => baseCols.exists(resolver(_, c))).toSeq
      require(extras.isEmpty || allowNewColumns,
        s"updates batch carries new column(s) ${extras.mkString(", ")} — " +
          "pass allowNewColumns = true to evolve the schema additively " +
          "(pre-existing rows read null there)")
      keyCols.foreach(k => require(baseCols.exists(resolver(_, k)),
        s"key column $k is not a column of $dir"))
      // align the batch to the base's column order (evolution extras
      // append after) so the union is by-position-safe regardless of
      // how the caller built the frame
      val aligned = updates.select(baseCols.toSeq.map(c =>
        org.apache.spark.sql.functions.col(
          updates.columns.find(resolver(_, c)).get).as(c)) ++
        extras.map(org.apache.spark.sql.functions.col): _*)
      val cond = keyCols.map(k => base(k) <=> aligned(k)).reduce(_ && _)
      val kept = base.observe(obsIn, cnt)
        .join(aligned, cond, "left_anti").observe(obsKeep, cnt)
      val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val writer = kept
        .unionByName(aligned, allowMissingColumns = extras.nonEmpty)
        .observe(obsOut, cnt)
        .repartition(parts)
        .write.mode("overwrite")
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(tmp)
    }
    val before = obsIn.get("n").asInstanceOf[Long]
    val replaced = before - obsKeep.get("n").asInstanceOf[Long]
    (before, replaced, obsOut.get("n").asInstanceOf[Long])
  }

  /** Compaction for BUCKETED catalog tables — the signature/ANN index
    * tables ([[graft.operators.Dedup.writeMinhashIndex]],
    * [[graft.operators.Similarity.writeIvfSqIndex]]) that
    * [[compactParquet]] must NOT touch (a blind repartition would
    * scramble their bucket layout). Every per-epoch append lands new
    * small files, and a replayed epoch appends byte-identical
    * signature rows (harmless for collisions, wasted bytes — the
    * replay residue [[graft.streaming.CorpusIngest.startWithIndex]]
    * documents); this rewrites the table through its OWN bucket spec,
    * dropping exact-duplicate rows, and installs via catalog renames.
    *
    * Scale shape: `distinct` is one shuffle on all columns, the
    * bucketed write one more on the bucket column — two wide jobs over
    * the index (an index is a few percent of its corpus). Column
    * metadata (the stamped shingle width) survives the rewrite, so
    * post-compaction appends still validate.
    *
    * Durability: same contract as [[compactParquet]], in catalog
    * terms. The rewrite lands in `<table>__compact_tmp`; install is
    * rename(table → table__compact_old), rename(tmp → table), drop
    * old. Re-running after a death between the renames auto-recovers
    * `__compact_old`; table and `__compact_old` both present refuses.
    * One compactor per table, writers paused.
    *
    * @return (rowsBefore, rowsAfter) — they differ exactly by the
    *         replay-duplicate rows dropped
    */
  def compactBucketedTable(
      spark: SparkSession,
      tableName: String
  ): (Long, Long) =
    rewriteBucketedTable(spark, tableName, tag = "compact")(identity)

  /** Staged in-place rewrite of a BUCKETED catalog table — the
    * generalized machinery behind [[compactBucketedTable]] (transform
    * = identity) and the index families' tombstone purges
    * ([[Tombstones.purge]]), where
    * transform = anti-join against the tombstone roster. The pipeline
    * is always `distinct().transform(...)` re-written through the
    * table's OWN bucket spec, so every caller gets replay-residue
    * dedup plus the same durability contract: rewrite lands in
    * `<table>__<tag>_tmp`, install is the two catalog renames with
    * exception rollback, a death between them auto-recovers on rerun,
    * and table-beside-`__<tag>_old` refuses. `tag` keeps different
    * maintenance jobs' crash states distinguishable in the catalog
    * (`compact` vs `purge`), mirroring [[stagedParquetSwap]].
    *
    * @return (rowsBefore, rowsAfter) observed on the rewrite itself
    */
  def rewriteBucketedTable(
      spark: SparkSession,
      tableName: String,
      tag: String = "compact"
  )(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Long, Long) = {
    // both counts observed ON the rewrite itself — separate count()
    // passes would double the table scans (the Migrator.copyTable
    // pattern: never re-scan just to read a number)
    val obsIn = org.apache.spark.sql.Observation(
      s"graft-$tag-in-$tableName-${java.util.UUID.randomUUID()}")
    val obsOut = org.apache.spark.sql.Observation(
      s"graft-$tag-out-$tableName-${java.util.UUID.randomUUID()}")
    val cnt = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("n")
    stagedTableSwap(spark, tableName, tag) { tmp =>
      // spec read INSIDE the swap: the crash triage may first have to
      // recover the table from its __<tag>_old copy
      writeThroughOwnSpec(spark, tableName,
        transform(spark.table(tableName).observe(obsIn, cnt).distinct())
          .observe(obsOut, cnt),
        "overwrite", tmp)
    }
    (obsIn.get("n").asInstanceOf[Long], obsOut.get("n").asInstanceOf[Long])
  }

  /** Append `rows` to the bucketed catalog table `tableName` through its
    * OWN bucket spec, then refresh, so sessions holding a cached file
    * listing (a streaming micro-batch's parent, a long-lived reader) see
    * the appended rows — the one append tail of every bucketed index
    * family. Appends are not idempotent under replay: a re-run epoch
    * lands byte-identical residue that [[compactBucketedTable]] drops.
    */
  def appendBucketed(
      spark: SparkSession,
      tableName: String,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    writeThroughOwnSpec(spark, tableName, rows, "append", tableName)
    spark.catalog.refreshTable(tableName)
  }

  /** Write `data` into `target` through `tableName`'s catalog bucket
    * spec — bucket count, bucket columns and sort columns as the build
    * stored them, never restated by a caller, so neither an append nor
    * a rewrite can drift from the table's layout. Loud on a table with
    * no bucket spec (a plain directory compacts with [[compactParquet]]).
    */
  private def writeThroughOwnSpec(
      spark: SparkSession,
      tableName: String,
      data: org.apache.spark.sql.DataFrame,
      mode: String,
      target: String): Unit = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tableName))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$tableName is not a bucketed table — compact a plain directory with compactParquet"))
    val writer = data.write.mode(mode).format("parquet")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
      writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else writer).saveAsTable(target)
  }

  /** The CARRIED metadata columns of a bucketed index table — its stored
    * columns minus the family's `reserved` ones — each of which an
    * appended `batch` must supply, or the filtered probes' payload would
    * silently go null for the appended rows. Presence is checked with
    * the session resolver (case-insensitive by default), matching how
    * `col()` resolves the names in the append's projection.
    */
  private[graft] def carriedColumns(
      spark: SparkSession,
      tableName: String,
      reserved: Seq[String],
      batch: org.apache.spark.sql.DataFrame): Seq[String] = {
    val carried = spark.table(tableName).columns.toSeq.filterNot(reserved.contains)
    val resolver = spark.sessionState.analyzer.resolver
    val missing = carried.filterNot(c => batch.columns.exists(resolver(_, c)))
    require(missing.isEmpty,
      s"batch lacks carried index columns: ${missing.mkString(", ")}")
    carried
  }

  /** Index `rows` keyed by `idCol` with `src`'s `carryCols` attached,
    * ONE metadata row per id — a duplicated id in `src` must not
    * multiply index rows (that would skew the hot-bucket cap and break
    * append == fresh write). Output: `rows`' columns, then `carryCols`.
    * Shared by the writes and appends whose index rows come from a
    * separate signature frame (minhash, dHash/audio/video).
    */
  private[graft] def withCarried(
      rows: org.apache.spark.sql.DataFrame,
      src: org.apache.spark.sql.DataFrame,
      srcIdCol: String,
      idCol: String,
      carryCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    if (carryCols.isEmpty) rows
    else rows.join(
      src.select(col(srcIdCol).as(idCol) +: carryCols.map(col): _*)
        .dropDuplicates(idCol),
      Seq(idCol))
      .select((rows.columns.toSeq ++ carryCols).map(col): _*)
  }

  /** [[rewriteBucketedTable]] for a PLAIN (non-bucketed) catalog
    * parquet table — the side-table twin (`<index>_docs` rosters and
    * similar), with the identical crash contract. The transform sees
    * the raw table (no implicit distinct — side tables own their
    * dedup semantics).
    */
  def rewriteTable(
      spark: SparkSession,
      tableName: String,
      tag: String = "purge"
  )(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Long, Long) = {
    val obsIn = org.apache.spark.sql.Observation(
      s"graft-$tag-in-$tableName-${java.util.UUID.randomUUID()}")
    val obsOut = org.apache.spark.sql.Observation(
      s"graft-$tag-out-$tableName-${java.util.UUID.randomUUID()}")
    val cnt = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("n")
    stagedTableSwap(spark, tableName, tag) { tmp =>
      transform(spark.table(tableName).observe(obsIn, cnt)).observe(obsOut, cnt)
        .write.mode("overwrite").format("parquet").saveAsTable(tmp)
    }
    (obsIn.get("n").asInstanceOf[Long], obsOut.get("n").asInstanceOf[Long])
  }

  /** The catalog-table half of the durability contract
    * ([[stagedParquetSwap]] in catalog terms): triage crash states,
    * drop a stale `__<tag>_tmp`, run `writeTmp` against the tmp table
    * name while the live table stays readable, install via the two
    * renames with exception rollback, drop the old copy, refresh.
    */
  private[plans] def stagedTableSwap(
      spark: SparkSession,
      tableName: String,
      tag: String
  )(writeTmp: String => Unit): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val catalog = spark.sessionState.catalog
    // a temp view shadowing the table name would hijack BOTH the read
    // (spark.table resolves the view's rows into the rewrite) and the
    // rename (ALTER TABLE RENAME hits the view) — refuse up front
    require(catalog.getTempView(tableName).isEmpty,
      s"a temp view shadows table $tableName — drop it before rewriting")
    val tmp = tableName + s"__${tag}_tmp"
    val old = tableName + s"__${tag}_old"
    val tableExists = catalog.tableExists(TableIdentifier(tableName))
    val oldExists = catalog.tableExists(TableIdentifier(old))
    if (!tableExists && oldExists) {
      // death between the two install renames: the original is the
      // __<tag>_old copy — recover it, never drop it
      spark.sql(s"ALTER TABLE `$old` RENAME TO `$tableName`")
    } else if (!tableExists) {
      throw new java.util.NoSuchElementException(
        s"$tag target table $tableName does not exist")
    } else if (oldExists) {
      throw new IllegalStateException(
        s"refusing to $tag $tableName: leftover $old exists alongside it " +
          "(a previous run died after install but before cleanup, or another " +
          "maintenance job is running) — inspect and drop one copy first")
    }
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    writeTmp(tmp)
    spark.sql(s"ALTER TABLE `$tableName` RENAME TO `$old`")
    // same rollback contract as compactParquet's swap: an exception
    // installing the rewritten copy restores the original name. The
    // restore's own failure (e.g. the same catalog outage) must not
    // mask the root cause — attach it as suppressed and rethrow the
    // install exception; the on-disk state is then the documented
    // crash state the triage above recovers.
    try spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$tableName`")
    catch {
      case scala.util.control.NonFatal(e) =>
        try spark.sql(s"ALTER TABLE `$old` RENAME TO `$tableName`")
        catch { case scala.util.control.NonFatal(r) => e.addSuppressed(r) }
        throw e
    }
    spark.sql(s"DROP TABLE `$old`")
    spark.catalog.refreshTable(tableName)
  }
}
