package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's DB-to-DB sync jobs re-expressed as native relational
  * operators. In the reference these are generated SQL strings executed by
  * MySQL/ClickHouse (`/root/reference/src/Common/SynToMysql.php:30-64`,
  * `SynToClickhouse.php:38-122`, `SyncOtherMysql.php:48-89`,
  * `DelMysql.php:34-39`); here they are DataFrame combinators so Catalyst
  * plans them (broadcast vs shuffle anti-join, AQE skew handling) instead of
  * an external server.
  *
  * Scale notes (100 TB): every op below is a single shuffle-or-broadcast
  * join or window — no driver-side collection. Anti-joins on a small target
  * broadcast automatically (AQE); large-large anti-joins shuffle on the key,
  * which is the optimal distributed plan for set difference.
  */
object Sync {

  /** Rows of `source` whose keys are absent from `target` — the NOT-EXISTS
    * insert set of `SynToMysql.php:47-55` (`INSERT INTO to SELECT … WHERE
    * NOT EXISTS …`). Returns the would-be-inserted rows; callers append them
    * to the target sink. `where` maps the reference's `filterWhere` (:53-55)
    * and `limit` its `LIMIT batch` (:58-60).
    */
  def antiInsert(source: DataFrame, target: DataFrame, keys: Seq[String],
                 where: Option[Column] = None, limit: Option[Int] = None): DataFrame = {
    val filtered = where.fold(source)(source.filter)
    // prune target to the key columns before the anti-join: less shuffle IO,
    // and a narrow build side broadcasts at sizes the full row set would not
    val anti = filtered.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    limit.fold(anti)(anti.limit)
  }

  /** Anti-join on arbitrary expression keys — the ClickHouse `ANTI LEFT JOIN`
    * with function-rewritten join conditions (`SynToClickhouse.php:56-70,
    * 82-90`, e.g. `f(x,c) = f(t.x,c)`).
    */
  def antiInsertExpr(source: DataFrame, target: DataFrame, cond: Column): DataFrame =
    source.join(target, cond, "left_anti")

  /** Incremental watermark sync: source rows strictly newer than the
    * target's max watermark column. Strict `>` reproduces the reference
    * boundary exactly (ties on the max timestamp are dropped —
    * `SyncOtherMysql.php:57`, `SynToClickhouse.php:77-80`; known
    * reference bug-shape, see SURVEY.md §7.4).
    *
    * The max is a one-row aggregate broadcast-crossed into the filter — no
    * `collect()`, the whole thing stays one lazy plan and the predicate is
    * evaluated post-scan (at 100 TB, pair with partitioning on the watermark
    * column so partition pruning skips old data).
    */
  def watermarkIncr(source: DataFrame, target: DataFrame, wmCol: String): DataFrame = {
    val wm = target.agg(max(col(wmCol)).as("__wm"))
    // NULL watermark (empty target) means "sync everything": the reference's
    // filterWhere drops the predicate when the scalar is null
    // (`SyncOtherMysql.php:57`), so bootstrap is a full load, not zero rows.
    source.join(broadcast(wm), col(wmCol) > col("__wm") || col("__wm").isNull, "inner")
      .drop("__wm")
  }

  /** Paged incremental sync collapsed to its semantics: watermark filter +
    * deterministic order + limit (`SyncOtherMysql.php:53-60` `ORDER BY max
    * ASC LIMIT size*parallel OFFSET …`). The OFFSET pagination loop
    * disappears — Spark reads the whole increment as partitioned work.
    */
  def incrPage(source: DataFrame, target: DataFrame, wmCol: String,
               tieBreak: Seq[Column], pageSize: Int): DataFrame =
    watermarkIncr(source, target, wmCol)
      .orderBy(col(wmCol) +: tieBreak: _*)
      .limit(pageSize)

  /** Upsert = full-outer merge: for key matches the source row wins, except
    * `exclude`d columns which keep the target value (the reference's `ON
    * DUPLICATE KEY UPDATE` set excludes `primary` + `exField`,
    * `SynToMysql.php:62-64`); source-only rows insert, target-only rows stay.
    * Presence is detected on (non-null) key columns, so a NULL in a source
    * value column correctly overwrites.
    */
  def upsert(source: DataFrame, target: DataFrame, keys: Seq[String],
             exclude: Set[String] = Set.empty): DataFrame = {
    require(target.columns.toSet == source.columns.toSet,
      "upsert requires identical source/target schemas")
    val s = source.select(source.columns.map(c => col(c).as(s"__s_$c")): _*)
    val joinCond = keys.map(k => col(s"__s_$k") === target(k)).reduce(_ && _)
    val sPresent = col(s"__s_${keys.head}").isNotNull
    val tPresent = target(keys.head).isNotNull
    val out = target.columns.map { c =>
      if (keys.contains(c)) coalesce(target(c), col(s"__s_$c")).as(c)
      else if (exclude(c)) when(tPresent, target(c)).otherwise(col(s"__s_$c")).as(c)
      else when(sPresent, col(s"__s_$c")).otherwise(target(c)).as(c)
    }
    target.join(s, joinCond, "full_outer").select(out: _*)
  }

  /** Latest-version-per-key dedup — replaces the reference's ClickHouse flag
    * lifecycle (insert flag=0, bump readable rows, flags 0..3 =
    * new/readable/old/deleted; `/root/reference/src/Sinks/Clickhouse.php:
    * 173-195`, doc/Clickhouse.md:49). That state machine is a concurrency
    * workaround for a non-transactional store; deterministic window-rank
    * dedup gives the same observable result (only the newest version is
    * readable) in one shuffle.
    */
  def latestVersion(df: DataFrame, pk: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(version.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Retention purge (`DelMysql.php:34-39` `DELETE FROM t WHERE cond`) as an
    * anti-filter rewrite: the surviving rows. On a MERGE-capable store this
    * would be a real DELETE; on immutable parquet it is a rewrite.
    */
  def delWhere(df: DataFrame, cond: Column): DataFrame = df.filter(!coalesce(cond, lit(false)))

  /** Gap-based batch sessionization: within each entity, a new session
    * starts when the time since the previous event is ≥ `gap` (same units
    * as `tsCol`). Adds `session_id` (0-based per-entity ordinal). The batch
    * twin of `Streams.sessionCounts` — one window per entity, shuffle on
    * the entity key only.
    */
  def sessionize(df: DataFrame, entityCols: Seq[String], tsCol: String,
                 gap: Long, orderTieCols: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: orderTieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(entityCols.map(col): _*).orderBy(order: _*)
    val brk = when(
      col(tsCol) - lag(col(tsCol), 1).over(w) >= gap, 1L).otherwise(0L)
    df.withColumn("session_id",
      sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Build a type-2 slowly-changing-dimension history from an event log:
    * keep only rows where any tracked attribute differs from the entity's
    * previous row (ordered by `tsCol`, ties by `orderTieCols`), stamp
    * `valid_from` = that row's ts and `valid_to` = the next version's ts
    * (null = current). Two windows over the same (entity, order) — one
    * shuffle total; at 100 TB this is the standard "snapshot log →
    * versioned dimension" pass.
    */
  def scd2FromHistory(df: DataFrame, keys: Seq[String], attrs: Seq[String],
                      tsCol: String, orderTieCols: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: orderTieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val changed = attrs.map(a =>
        // null-safe inequality: a NULL→value or value→NULL flip is a change
        !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(w).isNull
    val versions = df.withColumn("__chg", changed).filter(col("__chg")).drop("__chg")
    val wv = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    versions
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wv))
  }

  /** Keyed MERGE into a day/attribute-partitioned parquet table that
    * lists, reads and rewrites ONLY the partitions the updates touch — the
    * merge-at-scale path for plain parquet (what a table format's MERGE
    * does, minus the log): at 100 TB a daily update batch touches a handful
    * of recent partitions, so the directory listing, the read AND the
    * rewrite are bounded by the batch, not by the table's age.
    *
    * Mechanics: collect the updates' distinct partition values rendered the
    * way the parquet writer renders them (`cast(partitionCol as string)`
    * under the session time zone; bounded by construction — that is this
    * operator's contract; it throws above `maxPartitions` rather than
    * silently planning a full-table rewrite). Each value names its
    * directory through the writer's own `getPartitionPathString`, which
    * escapes `/`, `=`, `%` … and maps NULL and `""` to
    * `__HIVE_DEFAULT_PARTITION__`, so the NULL partition is read like any
    * other. Touched directories that do not exist yet (inserts into a new
    * partition, or a first sync into an absent table) are skipped — at most
    * `maxPartitions` existence checks, and never a listing of the table
    * root. The surviving directories are read with `basePath` and the
    * updates' schema, so the partition column keeps the updates' type: it
    * is never re-inferred from directory names, which would read `day=01`
    * as the int 1 and write the merged rows back under `day=1`, beside the
    * stale `day=01`. Base rows whose key has no update are kept (anti-join
    * — updates win wholesale, and the updates' columns are the table's
    * columns), the updates are unioned in, and the result is written back
    * with dynamic partition overwrite, so untouched partitions' files are
    * never listed, opened, read, or replaced.
    *
    * An update row whose `partitionCol` differs from its key's current
    * partition lands in the NEW partition while the anti-join removes the
    * old row only if the old partition is also touched by this batch —
    * callers moving rows across partitions must include both partitions'
    * updates in one batch (documented contract, checked nowhere: the
    * operator cannot see an untouched partition by design).
    *
    * NOT ATOMIC vs readers/failure: this is a read-then-dynamic-overwrite
    * of the SAME path in one job. That self-overwrite is safe against
    * consuming its own output because the committer stages every task's
    * files under `_temporary/` and only swaps partition directories at
    * job-commit, AFTER all read-and-write tasks finished — but the
    * per-partition swap itself has no transaction log: a failure DURING
    * commit can leave some touched partitions replaced and others old,
    * unrecoverable except by re-running the same batch (which is the
    * supported recovery — the merge is idempotent, updates win
    * wholesale). Use a table format with a real log when readers must
    * never observe the torn state (r12 advice: documented hazard).
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
                        basePath: String, updates: DataFrame,
                        keys: Seq[String], partitionCol: String,
                        maxPartitions: Int = 1000): Unit = {
    require(keys.nonEmpty && !keys.contains(partitionCol),
      "need row keys distinct from the partition column")
    val touched = updates.select(col(partitionCol).cast("string")).distinct()
      .limit(maxPartitions + 1).collect().map(_.getString(0))
    require(touched.length <= maxPartitions,
      s"updates touch more than $maxPartitions partitions — this operator " +
        "is for bounded-partition merges; rewrite the table instead")
    if (touched.isEmpty) return
    // the resolved field name is the directory key the writer uses
    val partName = updates.select(partitionCol).schema.head.name
    val root = new Path(basePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = touched
      .map(v => new Path(root, ExternalCatalogUtils.getPartitionPathString(partName, v)))
      .distinct.filter(fs.exists)
    val merged =
      if (dirs.isEmpty) updates
      else {
        val base = spark.read.schema(updates.schema).option("basePath", basePath)
          .parquet(dirs.map(_.toString).toSeq: _*)
        val kept = base.join(
          updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
        updates.select(base.columns.map(col): _*).unionByName(kept)
      }
    graft.sources.FileSink.overwritePartitions(merged, basePath, Seq(partitionCol))
  }
}
