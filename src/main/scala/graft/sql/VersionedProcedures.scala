package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.{Maintenance, ManifestStore, Versioned}

/** The SQL maintenance surface of the versioned store — Delta serves
  * OPTIMIZE / VACUUM / RESTORE as SQL; Spark 4's DSv2 stored-procedure
  * seam (`CALL cat.system.proc(...)`, SPARK-44167) is where a custom
  * catalog serves the same role:
  *
  * {{{
  *   CALL versioned.system.vacuum(table => '/path/t', keep_last => 3)
  *   CALL versioned.system.zorder('/path/t', 'l_partkey', 'l_suppkey', 8)
  *   CALL versioned.system.restore('/path/t', 2)
  * }}}
  *
  * Every procedure wraps the corresponding library maintenance entry
  * point verbatim — same commit protocol, same retry semantics, same
  * refusals — and returns its result as one row, so SQL-only
  * operators can run the whole housekeeping story (and read the
  * outcome) without the Scala API. Procedures are declared
  * non-deterministic: each CALL is a state transition (usually a new
  * manifest commit), never a cacheable expression. */
private[sql] object VersionedProcedures {

  private val SYSTEM = Seq("system")

  def load(ident: Identifier): Option[UnboundProcedure] =
    if (ident.namespace().toSeq != SYSTEM) None
    else registry.get(ident.name())

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq != SYSTEM && namespace.nonEmpty) Array.empty
    else registry.keys.toArray.sorted.map(n => Identifier.of(SYSTEM.toArray, n))

  // ── the registry ──

  private lazy val registry: Map[String, UnboundProcedure] = Seq(
    proc("compact_dv",
      "merge a delete-heavy chain's deletion-vector dirs into one per key column",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Versioned.compactDeletionVectors(spark, args.str(0)).map(Int.box).orNull))),

    proc("vacuum",
      "drop all but the newest keep_last versions, reclaim unreferenced dirs " +
        "(age-guarded); dry_run => true reports without touching anything",
      params = Seq(in("table", StringType), in("keep_last", IntegerType),
        inDefault("orphan_min_age_ms", LongType, (15 * 60 * 1000L).toString),
        inDefault("dry_run", BooleanType, "false")),
      out = StructType(Seq(StructField("versions_dropped", IntegerType),
        StructField("dirs_deleted", IntegerType),
        StructField("dirs_skipped_young", IntegerType))))(
      (spark, args) => {
        val st = Versioned.pruneVersions(spark, args.str(0), args.int(1), args.long(2),
          dryRun = args.bool(3))
        Seq(row(Int.box(st.versionsDropped.length), Int.box(st.dirsDeleted.length),
          Int.box(st.dirsSkippedYoung.length)))
      }),

    proc("zorder",
      "commit a Morton-ordered rewrite (whole table, or where => a partition predicate; " +
        "only matching partitions' files rewrite, the rest carry verbatim); " +
        "n_files omitted or 0 derives the count at the 128 MiB target",
      params = Seq(in("table", StringType), in("col_a", StringType),
        in("col_b", StringType), inDefault("n_files", IntegerType, "0"),
        inDefault("bits", IntegerType, "16"),
        inDefault("where", StringType, "''")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) =>
        if (args.str(5).trim.isEmpty)
          Seq(row(Int.box(Maintenance.zorderVersioned(
            spark, args.str(0), args.str(1), args.str(2), args.int(3), args.int(4)))))
        else Seq(row(Maintenance.zorderVersionedWhere(
          spark, args.str(0), args.str(5), args.str(1), args.str(2),
          args.int(3), args.int(4)).map(Int.box).orNull))),

    proc("detail",
      "DESCRIBE DETAIL from manifest bytes: one row of table metadata (zero data IO)",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(
        StructField("format", StringType),
        StructField("current_version", IntegerType),
        StructField("num_versions", IntegerType),
        StructField("num_data_files", IntegerType),
        StructField("size_bytes", LongType),
        StructField("num_rows", LongType),
        StructField("partition_columns", StringType),
        StructField("not_null_columns", StringType),
        StructField("num_check_constraints", IntegerType),
        StructField("num_dv_dirs", IntegerType),
        StructField("column_mapping", StringType),
        StructField("bloom_column", StringType))))(
      (spark, args) => {
        val dir = args.str(0)
        val vs = Versioned.versions(spark, dir)
        require(vs.nonEmpty, s"no versions at $dir")
        val v = vs.last
        val info = Versioned.versionInfo(spark, dir, v)
        val sz = Versioned.manifestSizeOf(spark, dir, v)
        val nFiles =
          try Versioned.allLiveFilesMap(spark, dir, v).valuesIterator.map(_.size).sum
          catch { case _: IllegalArgumentException => -1 } // pre-file-list manifest
        val inv = info.colMap.map(_.swap)
        Seq(row("parquet/versioned-manifest",
          Int.box(v), Int.box(vs.length), Int.box(nFiles),
          sz.map(x => Long.box(x._2)).orNull,
          sz.map(x => Long.box(x._1)).orNull,
          info.partitionCols.mkString(","),
          info.notNull.map(c => inv.getOrElse(c, c)).mkString(","),
          Int.box(Versioned.checkConstraints(spark, dir, v).length),
          Int.box(info.dvDirs.map(_._2.length).sum + info.scopedDvs.length +
            info.posDvs.length),
          info.colMap.toSeq.sorted.map { case (l, p) => s"$l->$p" }.mkString(","),
          Some(Versioned.bloomColumns(spark, dir, v).map(_._1).mkString(","))
            .filter(_.nonEmpty).orNull))
      }),

    proc("partitions",
      "SHOW PARTITIONS from manifest bytes: one row per live partition tuple " +
        "with file/row/byte counts (zero data IO)",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(
        StructField("partition", StringType),
        StructField("num_files", IntegerType),
        StructField("num_rows", LongType),
        StructField("bytes", LongType))))(
      (spark, args) => {
        val dir = args.str(0)
        val v = Versioned.latestVersion(spark, dir).getOrElse(
          throw new IllegalArgumentException(s"no versions at $dir"))
        Versioned.partitionSummary(spark, dir, v).map { case (tuple, files, rows, bytes) =>
          row(tuple, Int.box(files), Long.box(rows), Long.box(bytes))
        }
      }),

    proc("set_not_null",
      "add an enforced NOT NULL constraint (validates existing rows — from manifest " +
        "stats when provable — then one metadata commit). Spark's ALTER COLUMN " +
        "refuses the nullable->non-nullable direction for v2 catalogs, so the " +
        "constraint lands here instead",
      params = Seq(in("table", StringType), in("column", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(Versioned.alterTableAtomic(spark, args.str(0),
        Versioned.AlterSpec(setNotNull = Seq(args.str(1)))).map(Int.box).orNull))),

    proc("clone",
      "SHALLOW CLONE by default: create target as a new chain referencing the " +
        "source version's files by absolute path — zero data copied; the clone " +
        "appends, rewrites and retains independently (the SOURCE owns the shared " +
        "files: vacuuming the source can orphan a clone, Delta's own caveat). " +
        "deep => true copies every referenced byte as a Spark job instead — a " +
        "fully independent fork that survives source vacuum/DROP, may target " +
        "another filesystem, and carries scoped delete masks",
      params = Seq(in("source", StringType), in("target", StringType),
        inDefault("version", IntegerType, "-1"),
        inDefault("deep", BooleanType, "false")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(Int.box {
        val v = if (args.int(2) < 0) None else Some(args.int(2))
        if (args.bool(3)) Versioned.cloneTableDeep(spark, args.str(0), args.str(1), v)
        else Versioned.cloneTable(spark, args.str(0), args.str(1), v)
      }))),

    proc("set_bloom",
      "declare A bloom-indexed point-lookup column (integral/string) — a table " +
        "may declare several, each with its own per-file index: backfills this " +
        "column's blooms for every live dir in bounded commits; every later " +
        "write builds its own dir's blooms at O(delta). Re-declaring a column " +
        "rebuilds it; other declared columns are untouched. " +
        "bits omitted or 0 uses the 2^18-bit (32 KiB/file) default",
      params = Seq(in("table", StringType), in("column", StringType),
        inDefault("bits", IntegerType, "0")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(Int.box(Versioned.declareBloomColumn(
        spark, args.str(0), args.str(1),
        if (args.int(2) <= 0) graft.ext.Bloom.defaultBits else args.int(2)))))),

    proc("drop_bloom",
      "drop bloom declarations and their per-file blobs (metadata-only): " +
        "column omitted/empty drops EVERY declared column; a named column " +
        "drops only its own index",
      params = Seq(in("table", StringType),
        inDefault("column", StringType, "''")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Versioned.dropBloomColumn(spark, args.str(0),
          Some(args.str(1).trim).filter(_.nonEmpty)).map(Int.box).orNull))),

    proc("drop_not_null",
      "drop a NOT NULL constraint (metadata-only commit; SQL ALTER COLUMN … DROP " +
        "NOT NULL does the same)",
      params = Seq(in("table", StringType), in("column", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(Versioned.alterTableAtomic(spark, args.str(0),
        Versioned.AlterSpec(dropNotNull = Seq(args.str(1)))).map(Int.box).orNull))),

    proc("zorder_by",
      "N-column Morton-ordered rewrite (Delta OPTIMIZE … ZORDER BY (c1, …, cN)): " +
        "cols is comma-separated; where => scopes to matching partitions; " +
        "bits omitted or 0 derives the widest legal resolution min(16, 63/N)",
      params = Seq(in("table", StringType), in("cols", StringType),
        inDefault("n_files", IntegerType, "0"), inDefault("bits", IntegerType, "0"),
        inDefault("where", StringType, "''")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => {
        val zCols = args.str(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        if (args.str(4).trim.isEmpty)
          Seq(row(Int.box(Maintenance.zorderVersionedCols(
            spark, args.str(0), zCols, args.int(2), args.int(3)))))
        else Seq(row(Maintenance.zorderVersionedColsWhere(
          spark, args.str(0), args.str(4), zCols, args.int(2), args.int(3))
          .map(Int.box).orNull))
      }),

    proc("restore",
      "commit an old version's manifest as the newest version (no data copied; the restore is itself undoable)",
      params = Seq(in("table", StringType), in("version", IntegerType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(Int.box(
        Versioned.restoreVersion(spark, args.str(0), args.int(1)))))),

    proc("restore_at",
      "RESTORE TO TIMESTAMP AS OF: restore the newest version committed at or " +
        "before ts_millis (same undoable commit as restore)",
      params = Seq(in("table", StringType), in("ts_millis", LongType)),
      out = StructType(Seq(StructField("version", IntegerType),
        StructField("restored_from", IntegerType))))(
      (spark, args) => {
        val from = Versioned.versionAsOfTimestamp(spark, args.str(0), args.long(1))
          .getOrElse(throw new IllegalArgumentException(
            s"no version of ${args.str(0)} committed at or before ${args.long(1)} ms"))
        Seq(row(Int.box(Versioned.restoreVersion(spark, args.str(0), from)),
          Int.box(from)))
      }),

    proc("convert",
      "CONVERT TO DELTA's role: adopt an existing plain parquet directory as " +
        "version 0 in place (footer harvest + one manifest commit, zero bytes " +
        "move; partition_cols => comma-separated hive partition columns)",
      params = Seq(in("table", StringType),
        inDefault("partition_cols", StringType, "''")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(Int.box(Versioned.convertParquetDir(spark, args.str(0),
        args.str(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq))))),

    proc("backfill_stats",
      "one footer sweep upgrading pre-stats / pre-file-list manifests to the skipping read path",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Versioned.backfillStats(spark, args.str(0)).map(Int.box).orNull))),

    proc("compact_files",
      "rewrite the latest state into ~target_file_bytes files (whole table, or " +
        "where => a partition predicate: only matching partitions' files rewrite)",
      params = Seq(in("table", StringType),
        inDefault("target_file_bytes", LongType, (128L * 1024 * 1024).toString),
        inDefault("where", StringType, "''")),
      out = StructType(Seq(StructField("files_before", IntegerType),
        StructField("files_after", IntegerType),
        StructField("bytes", LongType))))(
      (spark, args) =>
        if (args.str(2).trim.isEmpty) {
          val st = Maintenance.compact(spark, args.str(0), args.long(1),
            store = ManifestStore)
          Seq(row(Int.box(st.filesBefore), Int.box(st.filesAfter), Long.box(st.totalBytes)))
        } else Maintenance.compactVersionedWhere(
            spark, args.str(0), args.str(2), args.long(1)) match {
          case Some((selected, selectedBytes, v)) =>
            // files_after re-evaluates the SAME predicate on the new
            // version — the matching partitions' file count post-rewrite;
            // bytes is the SELECTED bytes, matching the unscoped
            // branch's meaning (the bytes the rewrite processed)
            val after = Versioned.partitionScopedFiles(spark, args.str(0), v,
              args.str(2)).valuesIterator.map(_.size).sum
            Seq(row(Int.box(selected), Int.box(after), Long.box(selectedBytes)))
          case None => Seq(row(Int.box(0), Int.box(0), Long.box(0L)))
        }),

    proc("compact_small",
      "bounded small-dir compaction (Delta AUTO COMPACT's role, on demand): " +
        "coalesce up to max_dirs of the smallest live dirs under " +
        "target_file_bytes into one rewritten dir; file-granular commit, " +
        "commutes with concurrent appends; NULL version = nothing qualified",
      params = Seq(in("table", StringType),
        inDefault("target_file_bytes", LongType, (128L * 1024 * 1024).toString),
        inDefault("min_dirs", IntegerType, "2"),
        inDefault("max_dirs", IntegerType, "64")),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Versioned.compactSmallDirs(spark, args.str(0), args.long(1),
          args.int(2), args.int(3)).map(Int.box).orNull))),

    proc("fsck",
      "find manifest references to data files GONE from storage (Delta FSCK " +
        "REPAIR TABLE's role); repair => true commits one file-granular " +
        "version dropping exactly those references (the loss becomes explicit " +
        "and versioned); zero rows = clean, nothing committed",
      params = Seq(in("table", StringType),
        inDefault("repair", BooleanType, "false")),
      out = StructType(Seq(StructField("dir", StringType),
        StructField("file", StringType),
        StructField("repaired", BooleanType))))(
      (spark, args) => {
        val repair = args.bool(1)
        Versioned.fsck(spark, args.str(0), repair).map { case (d, f) =>
          row(d, f, java.lang.Boolean.valueOf(repair))
        }
      }),

    proc("history",
      "DESCRIBE HISTORY from manifest bytes: one row per committed version",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(StructField("version", IntegerType),
        StructField("committed_at", TimestampType),
        StructField("n_data_dirs", IntegerType),
        StructField("n_dv_dirs", IntegerType),
        StructField("n_columns", IntegerType),
        StructField("n_rows", LongType),
        StructField("rearranged", BooleanType))))(
      (spark, args) =>
        // bounded by the version count (never data-sized — the one
        // shape a driver-local procedure result is safe for; the
        // change FEED stays a DataFrame API for exactly that reason)
        Versioned.history(spark, args.str(0))
          .queryExecution.executedPlan.executeCollect().map(_.copy()).toSeq),

    proc("maintain",
      "routine maintenance in one call: dv compaction, fragmentation-gated file " +
        "compaction (compact_target_bytes > 0: rewrites only when live files exceed " +
        "2x the ideal count), then retention",
      params = Seq(in("table", StringType), in("keep_last", IntegerType),
        inDefault("orphan_min_age_ms", LongType, (15 * 60 * 1000L).toString),
        inDefault("backfill", BooleanType, "false"),
        inDefault("compact_target_bytes", LongType, "0")),
      out = StructType(Seq(StructField("dv_compacted_version", IntegerType),
        StructField("versions_dropped", IntegerType),
        StructField("dirs_deleted", IntegerType),
        StructField("files_compacted_from", IntegerType),
        StructField("files_compacted_to", IntegerType))))(
      (spark, args) => {
        val st = Maintenance.maintainVersioned(spark, args.str(0), args.int(1),
          args.long(2), backfillStats = args.bool(3),
          compactTargetBytes = args.long(4))
        Seq(row(st.dvCompactedVersion.map(Int.box).orNull,
          Int.box(st.prune.versionsDropped.length),
          Int.box(st.prune.dirsDeleted.length),
          st.compact.map(c => Int.box(c.filesBefore)).orNull,
          st.compact.map(c => Int.box(c.filesAfter)).orNull))
      }),

    proc("zorder_incremental",
      "Morton-cluster ONLY the dirs appended since the last rearrangement " +
        "(the clustered base carries verbatim — the O(increment) OPTIMIZE " +
        "cadence); cols is comma-separated; NULL row when everything live " +
        "is already clustered base",
      params = Seq(in("table", StringType), in("cols", StringType),
        inDefault("n_files", IntegerType, "0"),
        inDefault("bits", IntegerType, "16")),
      out = StructType(Seq(StructField("files_rewritten", IntegerType),
        StructField("bytes_rewritten", LongType),
        StructField("version", IntegerType))))(
      (spark, args) => {
        val zCols = args.str(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(zCols.nonEmpty, "cols must name at least one column")
        Maintenance.zorderVersionedIncremental(spark, args.str(0), zCols,
            args.int(2), args.int(3)) match {
          case Some((n, b, v)) => Seq(row(Int.box(n), Long.box(b), Int.box(v)))
          case None            => Seq(row(null, null, null))
        }
      }),

    proc("enable_row_tracking",
      "declare the _row_id identity column and backfill existing rows in one " +
        "dataChange=false rewrite — keyless table_changes from then on",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Int.box(Versioned.enableRowTracking(spark, args.str(0)))))),

    proc("drop_feature",
      "retire a protocol feature declaration (refuses while the feature is " +
        "still in use); NULL when the feature was never declared",
      params = Seq(in("table", StringType), in("feature", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Versioned.dropTableFeature(spark, args.str(0), args.str(1))
          .map(Int.box).orNull))),

    proc("copy_into",
      "idempotently ingest a directory's data files into an existing table: " +
        "files already in the ingest ledger skip, the rest load as ONE " +
        "append that atomically records their paths — a re-run never " +
        "double-loads; NULL row when nothing new",
      params = Seq(in("table", StringType), in("source", StringType),
        inDefault("format", StringType, "'parquet'")),
      out = StructType(Seq(StructField("files_loaded", IntegerType),
        StructField("rows_loaded", LongType),
        StructField("version", IntegerType))))(
      (spark, args) =>
        Versioned.copyInto(spark, args.str(0), args.str(1), args.str(2)) match {
          case Some((n, r, v)) => Seq(row(Int.box(n), Long.box(r), Int.box(v)))
          case None            => Seq(row(null, null, null))
        }),

    proc("forget_ingests",
      "retire the COPY INTO ledger in one metadata commit (the retention " +
        "valve; the next copy_into re-considers every source file); NULL " +
        "when the ledger is already empty",
      params = Seq(in("table", StringType)),
      out = StructType(Seq(StructField("version", IntegerType))))(
      (spark, args) => Seq(row(
        Versioned.forgetIngestHistory(spark, args.str(0)).map(Int.box).orNull)))
  ).map(p => p.name() -> p).toMap

  // ── plumbing ──

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def inDefault(name: String, dt: DataType, sql: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(sql).build()

  private def row(values: Any*): InternalRow = InternalRow.fromSeq(values.map {
    case s: String => UTF8String.fromString(s)
    case other     => other
  })

  /** Typed accessors over the analyzer-coerced argument row. EVERY
    * accessor refuses NULL: an InternalRow's primitive getters read a
    * null slot as 0/false, and `vacuum(orphan_min_age_ms => NULL)`
    * silently becoming age-guard-0 would let a racing in-flight
    * writer's dir be reclaimed — a NULL argument is a caller mistake,
    * never a default. */
  private implicit class Args(val r: InternalRow) {
    private def nonNull(i: Int): Unit =
      require(!r.isNullAt(i), s"procedure argument $i must not be NULL " +
        "(omit it to take the declared default)")
    def str(i: Int): String = { nonNull(i); r.getUTF8String(i).toString }
    def int(i: Int): Int = { nonNull(i); r.getInt(i) }
    def long(i: Int): Long = { nonNull(i); r.getLong(i) }
    def bool(i: Int): Boolean = { nonNull(i); r.getBoolean(i) }
  }

  private def proc(procName: String, desc: String,
                   params: Seq[ProcedureParameter], out: StructType)
                  (body: (SparkSession, InternalRow) => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val result = body(SparkSession.active, input).toArray
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = result
            override def readSchema(): StructType = out
            override def description(): String = s"CALL $procName"
          }).iterator()
        }
      }
    }
}
