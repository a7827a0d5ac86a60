package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val testdata = SparkTestSession.sf0001

  private def plainRead(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The executed plan with expression ids blanked out. */
  private def normalizedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#")

  test("load: the first load infers the schema with a job, a second load runs none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-load-jobs").toString
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val jobs = SparkTestSession.jobsPerKey(Seq("miss", "hit"))(_ =>
      Tables.load(spark, dir, "t"))
    assert(jobs("miss") >= 1, s"a first load runs Spark's inference: $jobs")
    assert(jobs("hit") == 0, s"a memoized load must run no job: $jobs")
  }

  test("load: a memoized load equals spark.read.parquet in schema and plan") {
    for (name <- Seq("lineitem", "events", "documents", "embeddings", "orders")) {
      Tables.load(spark, testdata, name)
      val hit = Tables.load(spark, testdata, name)
      val plain = plainRead(testdata, name)
      assert(hit.schema == plain.schema, name)
      assert(normalizedPlan(hit) == normalizedPlan(plain), name)
    }
  }

  test("load: two loads of one table carry disjoint expression ids") {
    val a = Tables.load(spark, testdata, "orders")
    val b = Tables.load(spark, testdata, "orders")
    val ids = a.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(b.queryExecution.analyzed.output.forall(e => !ids(e.exprId)))
    val selfJoin = a.join(b, a("o_orderkey") === b("o_orderkey"))
    assert(selfJoin.count() == plainRead(testdata, "orders").count())
  }

  test("load: a table rewritten in place is inferred again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-load-rewrite").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    Tables.load(spark, dir, "t")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    Seq((2, 3.0, true)).toDF("k", "x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.schema == plainRead(dir, "t").schema)
    assert(after.schema.fieldNames.toSeq == Seq("k", "x", "flag"))
    val rows = after.collect().toSeq
    assert(rows.map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))) == Seq((2, 3.0, true)))
  }

  test("load: the ts type of events follows the session's inference confs") {
    val confs = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    def tsType(df: org.apache.spark.sql.DataFrame) = df.schema("ts").dataType
    try {
      val seen = for (nanosAsLong <- Seq("true", "false"); ntz <- Seq("true", "false")) yield {
        spark.conf.set(confs(0), nanosAsLong)
        spark.conf.set(confs(1), ntz)
        Tables.load(spark, testdata, "events")
        val hit = tsType(Tables.load(spark, testdata, "events"))
        assert(hit == tsType(plainRead(testdata, "events")),
          s"nanosAsLong=$nanosAsLong ntz=$ntz")
        hit
      }
      // the confs do change the inferred type, so a memo that ignored
      // them would have returned a stale one
      assert(seen.distinct.size > 1, seen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cell-partitioned corpus: an IVF cell lookup prunes the scan to one partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-store").toString + "/corpus"
    (0 until 100).map(i => (i.toLong, Array.fill(4)(i.toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
      .write.partitionBy("label").parquet(dir)
    val cellQuery = spark.read.parquet(dir).filter($"label" === 3)
    val plan = cellQuery.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(label"), plan)
    assert(cellQuery.count() == 20)
    // only the label=3 directory is listed in the final scan
    val scanned = cellQuery.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scanned.contains("label=1") || scanned.contains("label=3"), scanned)
  }

  test("writePartitioned by (split, lang): train-only read prunes at planning time") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-split-store").toString + "/corpus"
    val docs = (1L to 300L).toDF("doc_id")
      .withColumn("split", graft.ops.TextOps.splitAssign($"doc_id"))
      .withColumn("lang", concat(lit("l"), ($"doc_id" % 3).cast("string")))
      .withColumn("text", concat(lit("doc number "), $"doc_id".cast("string")))
    Tables.writePartitioned(docs, dir, Seq("split", "lang"))
    val train = spark.read.parquet(dir).filter($"split" === "train" && $"lang" === "l1")
    // pruning must be real: the executed scan selects exactly ONE of the
    // nine (split, lang) partition directories. (inputFiles would be the
    // wrong probe — it lists the relation BEFORE pruning.)
    val scan = train.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
    val expected = docs.filter($"split" === "train" && $"lang" === "l1").count()
    assert(train.count() == expected && expected > 0)
    // split assignment is recoverable from the directory layout alone
    val roundTrip = spark.read.parquet(dir)
      .groupBy($"split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roundTrip.values.sum == 300 && roundTrip.keySet == Set("train", "val", "test"))
  }

  test("bucketed-on-key tables join and aggregate with no exchange") {
    import spark.implicits._
    val orders = (1L to 500L).map(k => (k, s"o$k")).toDF("orderkey", "o_payload")
    val items = (1L to 500L).flatMap(k => Seq((k, 1.0), (k, 2.0))).toDF("orderkey", "qty")
    Tables.writeBucketed(orders, "t_orders_b", Seq("orderkey"), 4)
    Tables.writeBucketed(items, "t_items_b", Seq("orderkey"), 4)
    // at real scale neither side broadcasts — force the shuffle-join path
    // the bucketing is designed to serve
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("t_orders_b").join(spark.table("t_items_b"), "orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free co-located join:\n$plan")
      assert(joined.count() == 1000)

      // groupBy on the bucketing key: also exchange-free
      val agg = spark.table("t_items_b").groupBy("orderkey").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg.count() == 500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS t_orders_b")
      spark.sql("DROP TABLE IF EXISTS t_items_b")
    }
  }

  test("writeZordered: files hold narrow ranges in BOTH dimensions, data intact") {
    import graft.ops.Scale
    val s = spark
    import s.implicits._
    // 32x32 grid, every (cell, day) once, shuffled — a row-order write
    // would spread every cell over every file
    val rnd = new scala.util.Random(5)
    val rows = rnd.shuffle(for { c <- 0 until 32; d <- 0 until 32 } yield (c, d))
      .toDF("cell", "day")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/t"
    graft.sources.Tables.writeZordered(
      rows, dir, Scale.zorderKey16(col("cell"), col("day")), nFiles = 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == 32 * 32)
    assert(back.select("cell", "day").collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      rows.collect().map(r => (r.getInt(0), r.getInt(1))).toSet)
    // per-file locality: each file covers a small sub-square of the grid,
    // so its distinct-cell AND distinct-day spans are far below 32
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 8)
    val spans = files.map { f =>
      val part = spark.read.parquet(f.getAbsolutePath)
      val cs = part.select("cell").distinct().count()
      val ds = part.select("day").distinct().count()
      (cs, ds)
    }
    // z-order sub-squares: a 1/16 slice of the 1024-cell curve touches
    // ~8-16 values per axis, never all 32 (row-order would hit 32 days)
    assert(spans.forall { case (cs, ds) => cs <= 20 && ds <= 20 },
      spans.mkString(","))
    // and a __z range predicate prunes at the parquet stats level:
    // the scan with a tight __z filter reads fewer rows than the table
    val zmin = back.agg(org.apache.spark.sql.functions.min(col("__z"))).head.getLong(0)
    val pruned = back.filter(col("__z") <= zmin + 10L)
    assert(pruned.count() < 64)
  }

  test("writeIvfIndex: on-disk search prunes the postings scan to the probed cells " +
      "and matches the in-memory search row for row") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(11)
    val emb = (0 until 400)
      .map(i => (i.toLong, Array.fill(16)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val (index, refit) = Similarity.buildIvfIndex(emb, "vec_id", "embedding", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString + "/idx"
    Tables.writeIvfIndex(index, refit, dir)
    // 2 queries x nprobe=2 -> at most 4 probed cells of the 8
    val qf = col("vec_id") < 2
    val disk = Similarity.annIvfSearchOnDisk(spark, dir, qf, nprobe = 2)
    val mem = Similarity.annIvfSearch(index, refit, qf, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val diskRows = rows(disk)
    assert(diskRows == rows(mem) && diskRows.nonEmpty,
      "on-disk search must equal the in-memory search")
    // pruning is PLANNING-time literal: among the postings scans (the
    // ones carrying the vector column), the candidate-side scan lists
    // at most the 4 probed cell directories; the query-side scan lists
    // all 8 (it is filter-pushed on vec_id, not cell-pruned). The
    // executed plan is AQE-wrapped — unwrap stages to reach the scans.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val scans = fileScans(disk.queryExecution.executedPlan)
      .filter(_.schema.fieldNames.contains("v"))
      .map(_.selectedPartitions.partitionCount)
    assert(scans.nonEmpty && scans.min <= 4,
      s"candidate postings scan must prune to <= 4 probed cells, got $scans")
    assert(scans.max == 8, s"sanity: the full index has 8 cell dirs, got $scans")
  }

  test("writePqIndex: the on-disk codes table is a fraction of the vector bytes; " +
      "ADC search from disk == in-memory") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(13)
    val emb = (0 until 2000)
      .map(i => (i.toLong, Array.fill(32)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    // quantize the unit corpus (the cosine-retrieval convention the
    // gate queries pin)
    val unit = Similarity.prepared(emb, "vec_id", "embedding")
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("v"), x => x / col("nrm")).as("v"))
    val (codes, codebooks) = Similarity.quantizePq(unit, "vec_id", "v", 32, 4, 16)
    val base = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    Tables.writePqIndex(codes, codebooks, s"$base/idx")
    emb.write.parquet(s"$base/vectors")
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(p))
    }
    val (cb, vb) = (dirBytes(s"$base/idx/codes"), dirBytes(s"$base/vectors"))
    assert(cb * 3 < vb,
      s"codes must be a small fraction of the vector bytes (codes=$cb vectors=$vb)")
    // query-batch ADC search straight off the read-back store
    val (codesD, cbD) = Tables.readPqIndex(spark, s"$base/idx")
    val queries = unit.filter(col("vec_id") < 3)
    def rows(c: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Similarity.annPq(c, b, queries, 32, 4, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(codesD, cbD) == rows(codes, codebooks),
      "disk-read codes/codebooks must search identically")
  }

  test("writeIvfPqIndex: on-disk residual-IVFADC search prunes the codes scan " +
      "to the probed cells and matches in-memory") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(17)
    val emb = (0 until 600)
      .map(i => (i.toLong, Array.fill(16)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val (codes, refit, codebooks) =
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", 16, 4, 8, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString + "/idx"
    Tables.writeIvfPqIndex(codes, refit, codebooks, dir)
    val unit = Similarity.prepared(emb, "vec_id", "embedding")
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("v"), x => x / col("nrm")).as("v"))
    val queries = unit.filter(col("vec_id") < 2) // <= 4 probed cells of 8
    val disk = Similarity.annIvfPqSearchOnDisk(spark, dir, queries, 16, 4,
      nprobe = 2, topK = 3)
    val mem = Similarity.annIvfPqSearch(codes, refit, codebooks, queries, 16, 4,
      nprobe = 2, topK = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d = rows(disk)
    assert(d == rows(mem) && d.nonEmpty,
      "on-disk IVFADC search must equal the in-memory search")
    // the codes scan (the one carrying code_0) lists only probed dirs
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val scans = fileScans(disk.queryExecution.executedPlan)
      .filter(_.schema.fieldNames.contains("code_0"))
      .map(_.selectedPartitions.partitionCount)
    assert(scans.nonEmpty && scans.min <= 4,
      s"codes scan must prune to <= 4 probed cell dirs, got $scans")
  }

  test("compact: many small files collapse to the target-size count, data intact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val (src, dest) = (s"$base/src", s"$base/dest")
    // 64 splits → 64 small files
    (1 to 10000).toDF("v").repartition(64)
      .write.parquet(src)
    val srcFiles = new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet"))
    assert(srcFiles >= 32, s"expected many small files, got $srcFiles")
    val n = graft.sources.Tables.compact(spark, src, dest, targetMB = 128)
    val destFiles = new java.io.File(dest).listFiles().count(_.getName.endsWith(".parquet"))
    // tiny table, 128 MB target → a single output file, nothing lost
    assert(n == 1 && destFiles == 1, s"n=$n files=$destFiles")
    assert(spark.read.parquet(dest).agg(org.apache.spark.sql.functions.sum($"v"))
      .head.getLong(0) == 10000L * 10001 / 2)
  }
}
