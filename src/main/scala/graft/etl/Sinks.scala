package graft.etl

import org.apache.spark.sql.DataFrame

/** §2.A sinks.
  *
  * The reference's two write paths: locked append of one JSON line per
  * record (`web_scraper/web_scraping.py:221-224,410-413`) and a
  * single-transaction ORM load into Postgres
  * (`database/parse_and_upload_to_db.py:99-175`). Our analogs are an
  * append-mode NDJSON sink and an idempotent overwrite parquet warehouse
  * sink — overwrite-per-table replaces the reference's all-or-nothing
  * rollback (`:178-180`): a failed job leaves the previous table intact,
  * a rerun converges (no partial-append dedup problem).
  *
  * The bulk warehouse stays parquet (columnar at 100 TB); the serving-DB
  * load path is real too — [[writeJdbc]]/[[readJdbc]] drive
  * `df.write.format("jdbc")` through embedded Derby (the one JDBC engine
  * in the offline build), so the Postgres swap is a url change.
  */
object Sinks {

  /** Append-only NDJSON sink (scraper-style event log). */
  def appendNdjson(df: DataFrame, path: String): Unit =
    df.write.mode("append").json(path)

  /** Bucketed warehouse table (catalog-managed): co-locates rows by join
    * key so repeated large⋈large joins on `bucketCols` skip the shuffle
    * entirely — both sides arrive pre-partitioned (verified plan-level in
    * BucketingSpec). This is the 100 TB answer to the reference's
    * repeated per-request joins (`database/app.py:66-82`): pay the
    * shuffle once at load, never per query. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Small-files compaction: rewrite a directory of many small parquet
    * files into `targetFiles` right-sized ones (round-robin repartition —
    * content-neutral, no shuffle key to skew). THE recurring 100 TB
    * warehouse maintenance job: a streaming/append ingest leaves
    * file-per-micro-batch debris whose per-file open/footer cost comes
    * to dominate scans (and the driver's file index); nightly compaction
    * restores scan efficiency. At scale `targetFiles` derives from
    * `dir size / spark.sql.files.maxPartitionBytes`; correctness is a
    * pure round trip (verified by q_etl_compact's oracle + file-count
    * assertion in SinksAndApproxSpec). */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetFiles: Int): Unit =
    spark.read.parquet(inDir)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(outDir)

  /** Idempotent warehouse table write. `partitionByCols` for fact tables
    * whose downstream reads prune on the partition column; dims stay
    * unpartitioned (small files beat empty-partition sprawl). */
  def writeWarehouseTable(df: DataFrame, path: String,
                          partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .parquet(path)
  }

  /** Write-audit-publish commit: audit the STAGED FILES (never the
    * in-memory plan that produced them — the point is to catch what the
    * write itself corrupted or dropped) and only then move the staging
    * directory to the published path. Audit = row-count conservation
    * against the producer's count, key non-null, key unique. A failed
    * audit throws and leaves the staging dir for forensics; readers
    * never see a partial or corrupt table because the publish is ONE
    * directory rename (the filesystem analog of an object-store/
    * catalog pointer swap — on S3-like stores this step is the catalog
    * commit). This is the reliability pattern behind every serious
    * warehouse load; the reference's load path writes straight into the
    * serving tables (`database/parse_and_upload_to_db.py:159-175`),
    * which is exactly the failure mode WAP exists to close.
    *
    * Caveat for external callers: the publish is `ATOMIC_MOVE`, which
    * requires `stagingDir` and `publishDir` to live on the SAME
    * filesystem — a cross-filesystem move throws
    * `AtomicMoveNotSupportedException` (by design: a non-atomic
    * fallback would reintroduce the partial-table window WAP closes).
    * On object stores the equivalent step is the catalog pointer swap,
    * not a rename. */
  def publishAudited(spark: org.apache.spark.sql.SparkSession,
                     stagingDir: String, publishDir: String,
                     keyCol: String, expectedRows: Long): String = {
    import org.apache.spark.sql.functions._
    // null-key count is coalesced explicitly: over an empty staging dir
    // sum(...) is NULL, and relying on getAs[Long]'s accidental 0L unbox
    // would make the empty-with-expectedRows=0 publish pass by accident
    // rather than by design
    val a = spark.read.parquet(stagingDir)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(keyCol)).as("n_keys"),
        coalesce(sum(when(col(keyCol).isNull, 1L).otherwise(0L)), lit(0L))
          .as("null_keys"))
      .head()
    val (n, nKeys, nullKeys) =
      (a.getAs[Long]("n"), a.getAs[Long]("n_keys"), a.getAs[Long]("null_keys"))
    require(n == expectedRows,
      s"WAP audit: staged $n rows, expected $expectedRows — not publishing")
    require(nullKeys == 0L,
      s"WAP audit: $nullKeys null $keyCol keys — not publishing")
    require(nKeys == n,
      s"WAP audit: $nKeys distinct $keyCol for $n rows — not publishing")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(stagingDir),
      java.nio.file.Paths.get(publishDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    publishDir
  }

  /** One-time Derby engine hygiene: point `derby.system.home` (where the
    * engine drops `derby.log`) into the repo's target dir BEFORE the
    * first connection boots the engine. Without this Derby writes
    * `derby.log` into the process CWD — the only files this build may
    * create live under [[graft.GraftSession.root]]. */
  private lazy val derbyHome: Unit = {
    val home = s"${graft.GraftSession.target}/derby"
    new java.io.File(home).mkdirs()
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", home)
  }

  /** JDBC warehouse write — the REAL `df.write.format("jdbc")` path the
    * reference's ORM load targets (`database/base/connect.py:8-10` builds
    * the psycopg2 conn string; load at `parse_and_upload_to_db.py:99-100,
    * 173-175`). The offline build carries no Postgres driver, so tests
    * and the registered query exercise the identical code path through
    * embedded Derby (`/opt/spark/jars/derby-10.16.1.1.jar`, same jar
    * Spark uses for its Hive metastore default) — Spark's DerbyDialect
    * handles DDL/type mapping; swapping to Postgres is ONLY the url
    * (that "config swap" claim is now a check, not a comment).
    *
    * Overwrite mode drops + recreates the target table, so a rerun
    * converges on exactly one copy — same idempotency contract as
    * [[writeWarehouseTable]], matching the reference's single-transaction
    * all-or-nothing load (`parse_and_upload_to_db.py:178-180`).
    *
    * Scale notes: each input partition opens its own connection and
    * inserts in `batchsize` batches, so write parallelism = partition
    * count — size it to what the TARGET can absorb (a single Postgres
    * primary saturates at low tens of writers; `df.coalesce(n)` down
    * before calling, don't let a 1000-partition shuffle output open
    * 1000 connections). Embedded Derby is in-process and row-locks, so
    * modest parallelism is fine here. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                batchSize: Int = 1000): Unit = {
    derbyHome
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")
      .mode("overwrite")
      .save()
  }

  /** JDBC read-back. Single-partition by default (fine for a dim-sized
    * result); at scale pass `partitionColumn`/`lowerBound`/`upperBound`/
    * `numPartitions` so the scan parallelizes into range-predicate
    * slices — Spark's JDBC source has no other way to split a table. */
  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
               table: String): DataFrame = {
    derbyHome
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .load()
  }

  /** Range-partitioned parallel JDBC read — the scale ingest path. The
    * source table is split into `numPartitions` range predicates on
    * `partitionColumn` (`col < b1`, `b1 <= col < b2`, …, `col >= bn`);
    * each slice is an independent query on its own connection, so read
    * parallelism = `numPartitions` instead of the single-cursor default.
    * The bounds only STEER the split, they never filter: rows outside
    * `[lowerBound, upperBound]` still land in the first/last slice, so a
    * stale bounds estimate degrades balance, not correctness. Size
    * `numPartitions` to what the SOURCE can serve concurrently (the
    * mirror of [[writeJdbc]]'s connection advice). */
  def readJdbcPartitioned(spark: org.apache.spark.sql.SparkSession,
                          url: String, table: String, partitionColumn: String,
                          lowerBound: Long, upperBound: Long,
                          numPartitions: Int): DataFrame = {
    derbyHome
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()
  }

  /** Write `df` as version `v` of a versioned table and flip the LATEST
    * pointer via ATOMIC_MOVE — readers never see a partial version (the
    * same pointer protocol as [[graft.ops.Streaming.mergeBatch]]; one
    * write path per version, old versions stay immutable). */
  def writeVersioned(df: DataFrame, targetDir: String, v: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    df.write.mode("overwrite").parquet(s"$targetDir/v$v")
    val tmp = Paths.get(s"$targetDir/LATEST.tmp")
    Files.createDirectories(Paths.get(targetDir))
    Files.write(tmp, s"v$v".getBytes("UTF-8"))
    Files.move(tmp, Paths.get(s"$targetDir/LATEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Retention vacuum for a [[writeVersioned]] table: keep the pointer
    * target plus the `keep`−1 highest-numbered other versions, delete
    * the rest; returns (versions before, versions after). The pointer
    * target is NEVER deleted regardless of age — the invariant that
    * makes vacuum safe to run concurrently with readers that already
    * resolved the pointer (they hold the newest version, which always
    * survives). Deletion is per-version-directory, so at 100 TB the
    * cost is a file-listing plus unlink of dead versions — no data
    * scan, no rewrite. */
  def vacuumVersions(targetDir: String, keep: Int): (Long, Long) = {
    require(keep >= 1, s"vacuum: keep must be >= 1, got $keep")
    import java.nio.file.{Files, Paths}
    require(Files.exists(Paths.get(s"$targetDir/LATEST")),
      s"vacuum: no LATEST pointer in $targetDir — not a versioned table")
    val live = new String(Files.readAllBytes(
      Paths.get(s"$targetDir/LATEST")), "UTF-8").trim
    val versions = Option(new java.io.File(targetDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .sortBy(f => -f.getName.drop(1).toLong)
    val keepNames = (live +: versions.map(_.getName)
      .filterNot(_ == live).take(keep - 1).toSeq).toSet
    val before = versions.length.toLong
    versions.filterNot(f => keepNames(f.getName)).foreach { f =>
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(f)
    }
    // count what actually survives on disk — keepNames.size over-counts
    // when the pointer target is missing or not a v\d+ name
    val after = Option(new java.io.File(targetDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.matches("v\\d+"))
      .toLong
    (before, after)
  }

  /** Shut down one embedded Derby database (unmounts it from the engine;
    * a successful shutdown SIGNALS via SQLException 08006 — JDBC's one
    * famous success-by-exception API). Called before a dead database's
    * directory is reclaimed so the engine never holds a booted db whose
    * files are gone. No-op for non-Derby urls. */
  def shutdownDerby(dbUrl: String): Unit =
    if (dbUrl.startsWith("jdbc:derby:"))
      try java.sql.DriverManager.getConnection(s"$dbUrl;shutdown=true")
      catch { case _: java.sql.SQLException => () } // 08006 = success
}
