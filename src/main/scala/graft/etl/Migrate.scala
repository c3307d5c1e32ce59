package graft.etl

import org.apache.spark.sql.SparkSession

/** Table-version lifecycle: the columnar analog of the reference's
  * reversible migration (`alembic/versions/199c98997e89_create_tables
  * .py:104-117` — `downgrade()` drops the V2 objects and returns the
  * database to the prior schema version).
  *
  * In a parquet warehouse, UPGRADE is free: new files carry the new
  * column, old files are never touched, `mergeSchema` unions footers at
  * planning (q_etl_schema_evolve). DOWNGRADE is the rare direction —
  * needed when a V2 column must be physically removed (bad backfill, a
  * column that must not be served, a reader fleet pinned to V1) — and
  * it's the one direction that REQUIRES a rewrite, because the data to
  * drop is inside immutable files. The safe shape is stage-and-swap:
  * project the table to the V1 column set into a staging dir, then two
  * atomic renames — current→backup, staging→current — so readers never
  * see a partial table and the V2 data survives in the backup for a
  * re-upgrade (alembic's upgrade-after-downgrade). On an object store
  * the renames are the catalog pointer swap (same caveat as
  * [[Sinks.publishAudited]]).
  *
  * At 100 TB the rewrite costs one full scan+write of the table — which
  * is exactly what it costs in any engine (Postgres `DROP COLUMN` is
  * metadata-only but its `VACUUM FULL` to reclaim is the same rewrite);
  * partition-pruned downgrades (only partitions that ever got V2 files)
  * bound it to the evolved suffix of the table.
  */
object Migrate {

  /** Rewrite `tableDir` down to `v1Cols`, atomically. Returns the backup
    * dir holding the pre-downgrade (V2) table; pass it to [[restore]] to
    * undo. Fails (leaving the table untouched) if `v1Cols` contains a
    * column the table lacks — a downgrade can only DROP columns. */
  def downgradeTable(spark: SparkSession, tableDir: String,
                     v1Cols: Seq[String]): String = {
    val cur = spark.read.option("mergeSchema", "true").parquet(tableDir)
    val missing = v1Cols.filterNot(cur.columns.contains)
    require(missing.isEmpty,
      s"downgrade target columns absent from table: $missing")
    val stage = tableDir + ".downgrade-stage"
    val backup = tableDir + ".pre-downgrade"
    cur.select(v1Cols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").parquet(stage)
    val p = java.nio.file.Paths.get(tableDir)
    java.nio.file.Files.move(p, java.nio.file.Paths.get(backup),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(java.nio.file.Paths.get(stage), p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    backup
  }

  /** Undo a [[downgradeTable]]: swap the backup back into place. The
    * downgraded table is discarded (it is a pure projection of the
    * backup — nothing is lost). */
  def restore(tableDir: String, backupDir: String): Unit = {
    val p = java.nio.file.Paths.get(tableDir)
    val doomed = java.nio.file.Paths.get(tableDir + ".discard")
    java.nio.file.Files.move(p, doomed,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(java.nio.file.Paths.get(backupDir), p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Sinks.rmTree(doomed.toFile)
  }
}
