package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * Table IO for the graft engine: parquet loaders plus bucketed writes —
 * the storage-level answer to repeated large joins.
 *
 * At 100 TB, the dominant cost of a fact-fact join is the shuffle. If
 * both tables are written bucketed (and sorted) on the join key with the
 * same bucket count, Spark plans a sort-merge join with NO exchange on
 * either side: the shuffle is paid once at write time and amortized over
 * every subsequent join/aggregation on that key ([[TablesSpec]] asserts
 * the exchange-free plan).
 */
object Tables {

  /**
   * Load the parquet table `dir/name.parquet` (one file or a directory of
   * part files). This is graft's one parquet load boundary: every
   * [[graft.SparkEntry]] gate and [[graft.api.TypedPipeline.load]] read
   * their tables through it.
   *
   * It memoizes the inferred schema, so that a table costs one inference
   * job per read of new files, not one per load. Spark infers a parquet
   * schema with a job (a parallel footer read plus a Hadoop-conf
   * broadcast), even for a one-file table, so a plain `spark.read.parquet`
   * runs a job while the DataFrame is still being built. The first load of
   * a key runs Spark's own inference, unchanged; every later load passes
   * the memoized schema to `spark.read.schema(..)`, which runs no job.
   *
   * The memo key is:
   *  - the qualified path;
   *  - (path, length, mtime) of every file under it, from one driver-side
   *    listing, so a rewritten table is inferred again;
   *  - the session's values of the confs that change inference
   *    (`InferenceConfs`), so a changed conf is inferred again.
   *
   * Only the `StructType` is kept. Each call still builds a fresh relation
   * (fresh exprIds, fresh file index), so two loads of one table self-join
   * and see new files exactly as two plain reads do.
   */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // nothing there: Spark reports it
      case Some(key) =>
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, df.schema))
            df
        }
    }
  }

  /** The SQL confs that parquet schema inference reads. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** Memoized schemas kept; past it the least recently used goes. */
  private val MaxSchemas = 256

  private final case class SchemaKey(
      path: String, files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size() > MaxSchemas
    }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(SchemaKey(fs.makeQualified(p).toString, files.result().sortBy(_._1),
        InferenceConfs.map(spark.conf.getOption)))
    }
  }

  /**
   * Write `df` as a bucketed, sorted parquet table registered in the
   * catalog. Joins and groupBys on `keys` against tables bucketed the
   * same way need no exchange.
   */
  def writeBucketed(
      df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit =
    df.write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /**
   * Hive-style partitioned parquet write — the corpus last-mile: a
   * training corpus laid out by (split, lang) lets every downstream job
   * that filters on those columns prune whole directories at PLANNING
   * time (PartitionFilters on the scan, zero I/O for skipped
   * partitions) — at 100 TB reading only `split=train` is the
   * difference between 80 TB and 100 TB of scan. Partition columns
   * should be low-cardinality (split/lang/date, never doc ids).
   */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .save(path)

  /**
   * Small-file compaction — the operational tax of every streaming /
   * incremental pipeline: micro-batches and per-executor writers leave
   * thousands of KB-scale parquet files whose open/footer overhead
   * dominates scans and whose count overwhelms driver listing at
   * 100 TB. Rewrites `srcPath` into `destPath` with files sized near
   * `targetMB`, computed from the ACTUAL on-disk byte total (a
   * filesystem `getContentSummary` walk — NOT `optimizedPlan.stats.
   * sizeInBytes`, which multiplies by the parquet compression factor
   * and would over-split compressed data 2-5×), so a 100 GB directory
   * compacts to ~800 files at 128 MB. Uses coalesce (no shuffle —
   * partition-local concatenation) when the target count is a
   * reduction; falls back to repartition when the target EXCEEDS the
   * source partition count (coalesce cannot raise parallelism — it
   * would silently emit too-few, too-big files) or when shuffle=true
   * is passed to rebalance skewed inputs.
   */
  def compact(spark: SparkSession, srcPath: String, destPath: String,
      targetMB: Int = 128, shuffle: Boolean = false): Int = {
    require(targetMB >= 1, s"targetMB must be >= 1, got $targetMB")
    val src = spark.read.parquet(srcPath)
    val p = new org.apache.hadoop.fs.Path(srcPath)
    val bytes = BigInt(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength)
    val target = BigInt(targetMB) * 1024L * 1024L
    val nFiles = math.max(1,
      (bytes / target).toInt + (if (bytes % target > 0) 1 else 0))
    val srcParts = src.rdd.getNumPartitions
    val out =
      if (shuffle || nFiles > srcParts) src.repartition(nFiles)
      else src.coalesce(nFiles)
    out.write.format("parquet").mode(SaveMode.Overwrite).save(destPath)
    nFiles
  }

  /**
   * Z-ORDER clustered write — the layout half of
   * [[graft.ops.Scale.zorderKey16]]: range-partition on the Morton key
   * (one sampled global shuffle), sort within each file, and KEEP the
   * `__z` column so parquet writes file-level min/max stats on it.
   * Rows close in BOTH key dimensions land in the same files, so a
   * two-sided range predicate (and any `__z` range) prunes whole files
   * at planning time — Delta/Iceberg Z-ORDER clustering as a plain
   * parquet write. At 100 TB the one range exchange is the price paid
   * ONCE at write time to make every later selective scan cheap.
   */
  def writeZordered(df: DataFrame, destPath: String, zKey: Column,
      nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    df.withColumn("__z", zKey)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .write.format("parquet").mode(SaveMode.Overwrite).save(destPath)
  }

  /**
   * Persist an IVF ANN index ([[graft.ops.Similarity.buildIvfIndex]]'s
   * output) as its DEPLOYMENT shape: the (vec_id, v, nrm) postings
   * Hive-partitioned by `cell` under `path/postings`, the k-row
   * centroid routing table under `path/centroids`. The N·k quantizer
   * pass is paid ONCE at write time; every later query batch routes
   * against the tiny centroid table and reads ONLY its probed cell
   * directories — planning-time partition pruning
   * ([[graft.ops.Similarity.annIvfSearchOnDisk]] makes the probed-cell
   * filter literal, TablesSpec asserts `selectedPartitions` == probed
   * cells). At 100 TB an nprobe=2 batch over √N cells reads ~2/√N of
   * the postings bytes instead of the whole corpus.
   */
  def writeIvfIndex(index: DataFrame, refit: DataFrame, path: String): Unit = {
    writePartitioned(index, s"$path/postings", Seq("cell"))
    refit.coalesce(1).write.format("parquet")
      .mode(SaveMode.Overwrite).save(s"$path/centroids")
  }

  /** Read back a [[writeIvfIndex]] store: (postings, centroids). The
    * partition column `cell` is recovered from the directory layout at
    * its original integer type. */
  def readIvfIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/centroids"))

  /**
   * Persist a PQ index ([[graft.ops.Similarity.quantizePq]]'s output):
   * the (vec_id, code_0..code_{m-1}) codes under `path/codes`, the
   * m·k-row codebooks under `path/codebooks`. The codes table IS the
   * compression win made durable — m small ints per vector instead of
   * d floats (16–64×), so the table an ADC scan
   * ([[graft.ops.Similarity.annPq]]) reads from disk is 16–64× fewer
   * bytes than the raw vector table; the codebooks fold to one
   * broadcast row at search time. Train/encode is paid once at write
   * time (the gate queries' per-query build price is the demo shape,
   * not this one).
   */
  def writePqIndex(codes: DataFrame, codebooks: DataFrame, path: String): Unit = {
    codes.write.format("parquet").mode(SaveMode.Overwrite).save(s"$path/codes")
    codebooks.coalesce(1).write.format("parquet")
      .mode(SaveMode.Overwrite).save(s"$path/codebooks")
  }

  /** Read back a [[writePqIndex]] store: (codes, codebooks) — feed
    * them straight to [[graft.ops.Similarity.annPq]]. */
  def readPqIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/codebooks"))

  /**
   * Persist a residual-IVFADC index
   * ([[graft.ops.Similarity.buildIvfPqIndex]]'s output) — BOTH 100 TB
   * levers made durable: codes Hive-partitioned by `cell` under
   * `path/codes` (an nprobe-cell query batch lists only those
   * directories) AND each row m code bytes instead of d floats
   * (16–64× fewer bytes per row scanned); the k-row centroid routing
   * table and m·k-row codebooks ride alongside as single small
   * files. All three frames are integer-scaled → the store
   * round-trips bit-exactly
   * ([[graft.ops.Similarity.annIvfPqSearchOnDisk]] == the in-memory
   * search, spec-pinned).
   */
  def writeIvfPqIndex(codes: DataFrame, refit: DataFrame,
      codebooks: DataFrame, path: String): Unit = {
    writePartitioned(codes, s"$path/codes", Seq("cell"))
    refit.coalesce(1).write.format("parquet")
      .mode(SaveMode.Overwrite).save(s"$path/centroids")
    codebooks.coalesce(1).write.format("parquet")
      .mode(SaveMode.Overwrite).save(s"$path/codebooks")
  }

  /** Read back a [[writeIvfPqIndex]] store: (codes, centroids,
    * codebooks). */
  def readIvfPqIndex(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebooks"))

  // ── incremental maintenance (r18): daily-ingest append / GDPR-style
  // remove WITHOUT retraining quantizer or codebooks — the
  // updateBandIndex discipline extended to the IVF/IVFADC stores.
  // Appends touch ONLY the cell directories the new vectors route to;
  // removals rewrite ONLY the cell directories that contain removed
  // ids. The retrain trigger is distribution drift, measured by
  // [[graft.ops.Similarity.ivfCellDrift]] over the postings/codes —
  // frozen centroids stay near-optimal while the data distribution
  // holds, and a hot cell (load_ratio ≫ 1) degrades toward a linear
  // scan for the queries routed there. ────────────────────────────────

  /**
   * Append new vectors to a [[writeIvfIndex]] store: route each to its
   * argmax-cosine cell of the FROZEN centroid table
   * ([[graft.ops.Similarity.assignWithCentroids]] — the identical rule
   * query routing uses) and APPEND the new postings files into those
   * cells' directories. No existing file is touched; the centroid
   * table is unchanged. Cost: one broadcast route of the batch + one
   * partitioned write of |batch| rows — independent of index size.
   */
  def appendToIvfIndex(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String): Unit = {
    val (_, refit) = readIvfIndex(spark, path)
    graft.ops.Similarity.assignWithCentroids(newVecs, idCol, vecCol, refit)
      .write.format("parquet").mode(SaveMode.Append)
      .partitionBy("cell").save(s"$path/postings")
  }

  /**
   * Append new vectors to a [[writeIvfPqIndex]] store: unit-normalize,
   * route to the FROZEN cells, PQ-encode the cell residuals against
   * the FROZEN codebooks ([[graft.ops.Similarity.pqEncodeAgainst]] —
   * the trainer's own encode scan, so appended codes are bit-identical
   * to a build over the same quantizer), append into the routed cell
   * directories. Centroids and codebooks are unchanged.
   */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int): Unit = {
    import graft.ops.Similarity
    val (_, refit, codebooks) = readIvfPqIndex(spark, path)
    val unit = Similarity.prepared(newVecs, idCol, vecCol)
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("v"),
          x => x / col("nrm")).as("v"))
    val routed = Similarity.assignWithCentroids(unit, "vec_id", "v", refit)
    val cents = refit.select(col("cell"),
      org.apache.spark.sql.functions.transform(col("centroid_scaled"),
        x => x / 1000000.0).as("cvec"))
    val residuals = routed
      .join(org.apache.spark.sql.functions.broadcast(cents), "cell")
      .select(col("vec_id"), col("cell"),
        org.apache.spark.sql.functions.zip_with(col("v"), col("cvec"),
          (a, b) => a - b).as("v"))
    Similarity.pqEncodeAgainst(
        residuals.select(col("vec_id"), col("v")), codebooks, dim, m)
      .join(residuals.select(col("vec_id"), col("cell")), "vec_id")
      .write.format("parquet").mode(SaveMode.Append)
      .partitionBy("cell").save(s"$path/codes")
  }

  /** Remove ids from a [[writeIvfIndex]] store's postings — see
    * [[removeFromCellStore]]. */
  def removeFromIvfIndex(spark: SparkSession, path: String,
      ids: DataFrame): Unit =
    removeFromCellStore(spark, s"$path/postings", ids)

  /** Remove ids from a [[writeIvfPqIndex]] store's codes — see
    * [[removeFromCellStore]]. */
  def removeFromIvfPqIndex(spark: SparkSession, path: String,
      ids: DataFrame): Unit =
    removeFromCellStore(spark, s"$path/codes", ids)

  /**
   * Targeted-rewrite removal from a cell-partitioned store: find the
   * cells containing any removed id (a semi-join that PRUNES to
   * nothing for cells without hits), rewrite ONLY those cell
   * directories without the removed rows (dynamic partition
   * overwrite), and DELETE directories whose every row was removed
   * (dynamic overwrite cannot express an empty partition — it would
   * silently leave the stale files). The affected-cell collect is
   * bounded by the removal batch size (≤ one cell per removed id).
   * Survivors are localCheckpoint'd before the overwrite — Spark
   * refuses a same-path read-and-overwrite otherwise.
   */
  private def removeFromCellStore(spark: SparkSession, dataPath: String,
      ids: DataFrame): Unit = {
    val store = spark.read.parquet(dataPath)
    val rm = ids.select(col(ids.columns.head).as("vec_id"))
    val affected = store.join(rm, Seq("vec_id"), "left_semi")
      .select(col("cell")).distinct().collect().map(_.get(0))
    if (affected.isEmpty) return
    val survivors = store
      .filter(col("cell").isin(affected.toSeq: _*))
      .join(rm, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val keptCells = survivors.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSet
    // Crash-safety ordering (GDPR-style deletion must not silently
    // retain rows): delete the fully-emptied cell directories FIRST —
    // they hold only removed rows (no survivors), so a crash after the
    // deletes but before the overwrite leaves extra-removed data that a
    // re-run restores nothing of and the retained-affected cells still
    // carry their rows for the idempotent re-run. The survivors frame
    // is already materialized (eager localCheckpoint), so it does not
    // re-read the deleted files.
    val fs = new org.apache.hadoop.fs.Path(dataPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(keptCells).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dataPath/cell=$c"), true)
    }
    survivors.write.format("parquet").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").save(dataPath)
    // Fail-loud post-condition: no removed id may remain on disk. A
    // lost-update anywhere above must surface here, not as a silent
    // gap discovered by the next audit.
    val remaining = spark.read.parquet(dataPath)
      .join(rm, Seq("vec_id"), "left_semi").count()
    require(remaining == 0L,
      s"removal incomplete: $remaining removed ids remain under $dataPath")
  }

  // ── automated retrain-and-swap (r19, closing the r16 verdict's #7):
  // ivfCellDrift is the TRIGGER; this is the ACTION — a VERSIONED
  // IVFADC store (each version a full writeIvfPqIndex layout under
  // <path>/v<n>) with an atomic manifest pointer, and a maintenance
  // pass that retrains + re-encodes + commits a new version ONLY when
  // drift exceeds the threshold. Searches in flight keep reading the
  // version they resolved; new searches resolve the new pointer — the
  // swap is one marker-file rename, never an in-place rewrite. ────────

  /** One maintenance pass's outcome: the version now current, whether
    * this pass retrained, and the drift that decided it. */
  final case class IvfMaintenance(
      version: Int, retrained: Boolean, maxLoadRatio: Double)

  private def manifestDir(path: String) = s"$path/_manifests"
  private val ManifestName = "manifest-([0-9]+)".r

  /** Current committed version of a versioned IVFADC store: the max n
    * among `_manifests/manifest-<n>` marker files. Each marker is
    * committed by write-tmp-then-RENAME (rename to a fresh name is
    * atomic on HDFS and local FS), so a reader never resolves a half
    * commit; a crash mid-build leaves an orphan v<n> directory that no
    * marker points to — garbage, not corruption. None = uninitialized. */
  def currentIvfPqVersion(spark: SparkSession, path: String): Option[Int] = {
    val md = new org.apache.hadoop.fs.Path(manifestDir(path))
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(md)) return None
    val vs = fs.listStatus(md).toSeq.map(_.getPath.getName).collect {
      case ManifestName(n) => n.toInt
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Resolve the current version's store directory — feed it to
    * [[readIvfPqIndex]] / [[graft.ops.Similarity.annIvfPqSearchOnDisk]]
    * (the resolved path stays valid for the whole query even if a
    * maintenance pass swaps the pointer mid-flight). */
  def currentIvfPqPath(spark: SparkSession, path: String): String =
    s"$path/v${currentIvfPqVersion(spark, path).getOrElse(
      sys.error(s"no committed index version under $path"))}"

  /** Write (codes, refit, codebooks) as the NEXT version of the
    * versioned store and atomically swap the pointer to it. Returns
    * the committed version number. */
  def commitIvfPqVersion(spark: SparkSession, codes: DataFrame,
      refit: DataFrame, codebooks: DataFrame, path: String): Int = {
    val next = currentIvfPqVersion(spark, path).map(_ + 1).getOrElse(0)
    writeIvfPqIndex(codes, refit, codebooks, s"$path/v$next")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(manifestDir(path)))
    val tmp = new org.apache.hadoop.fs.Path(
      manifestDir(path), s".manifest-$next.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v$next\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp,
      new org.apache.hadoop.fs.Path(manifestDir(path), s"manifest-$next")),
      s"manifest commit rename failed for version $next under $path")
    next
  }

  /**
   * The automated RETRAIN-AND-SWAP pass: measure cell drift on the
   * CURRENT version's codes ([[graft.ops.Similarity.ivfCellDrift]] —
   * a count aggregation over the partition column); if max load_ratio
   * ≤ `driftThreshold`, do NOTHING (the committed store stays
   * bit-unchanged — spec-pinned); otherwise retrain quantizer +
   * codebooks from `emb` (the CURRENT full corpus — PQ codes are
   * lossy, so source vectors are the rebuild input by contract),
   * re-encode, commit as the next version, swap the pointer, and
   * prune versions older than `keepVersions` (a grace window for
   * in-flight readers). Run it from the ingest scheduler after each
   * append batch; the threshold is the knob ivfCellDrift's report is
   * denominated in (balanced = 1.0; a hot cell degrades toward a
   * linear scan for queries routed there).
   */
  def maintainIvfPqIndex(spark: SparkSession, path: String, emb: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, kCodes: Int,
      kCells: Int, driftThreshold: Double,
      keepVersions: Int = 2): IvfMaintenance = {
    require(driftThreshold >= 1.0,
      s"driftThreshold is a load RATIO (balanced = 1.0), got $driftThreshold")
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = currentIvfPqVersion(spark, path).getOrElse(
      sys.error(s"no committed index version under $path — bootstrap with " +
        "commitIvfPqVersion(buildIvfPqIndex(...)) first"))
    val (codes, _, _) = readIvfPqIndex(spark, s"$path/v$cur")
    val maxRatio = graft.ops.Similarity.ivfCellDrift(codes)
      .agg(org.apache.spark.sql.functions.max(col("load_ratio")))
      .collect()(0).getDouble(0)
    if (maxRatio <= driftThreshold)
      IvfMaintenance(cur, retrained = false, maxRatio)
    else {
      val (c2, r2, b2) = graft.ops.Similarity.buildIvfPqIndex(
        emb, idCol, vecCol, dim, m, kCodes, kCells)
      val v = commitIvfPqVersion(spark, c2, r2, b2, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 to v - keepVersions).foreach { old =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/v$old"), true)
        fs.delete(new org.apache.hadoop.fs.Path(
          manifestDir(path), s"manifest-$old"), false)
      }
      IvfMaintenance(v, retrained = true, maxRatio)
    }
  }
}
