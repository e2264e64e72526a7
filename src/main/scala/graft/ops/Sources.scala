package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources (SURVEY §2.1, S1-S4).
  *
  * The reference ingests per-trial CSV files in a Python loop, deriving key
  * columns from the filename (`/root/reference/load_data.py:85-87,161-164`)
  * and reading headerless label CSVs positionally
  * (`/root/reference/load_data.py:14-15`). Spark-first: one glob read with an
  * explicit schema replaces the loop; `input_file_name()` + `regexp_extract`
  * recover filename-derived keys; partitioning by file replaces the dict
  * nesting. CSV schema inference is deliberately NOT used (correctness trap,
  * SURVEY §1.2).
  */
object Sources {

  /** S2: parquet table reader for the driver test layout. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** S1: headerless CSV with explicit positional schema
    * (ref `load_data.py:14-15`).
    */
  def csvHeaderless(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("header", "false").csv(path)

  /** S3: derive key columns from the source file name — replaces the
    * reference's `os.listdir` loop + `fn[:3]`/`fn[3:6]` slicing
    * (ref `load_data.py:85-87`). `groups` maps new column name → 1-based
    * regex group in `pattern` applied to the file name.
    */
  def withFilenameKeys(df: DataFrame, pattern: String, groups: Seq[(String, Int)]): DataFrame = {
    val fn = regexp_extract(input_file_name(), "([^/]+)$", 1)
    groups.foldLeft(df) { case (d, (name, g)) =>
      d.withColumn(name, regexp_extract(fn, pattern, g))
    }
  }

  /** S4: headerless CSV sink (ref `generate_submission.py:567-569`). */
  def writeCsvHeaderless(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "false").csv(path)

  /** JSONL (newline-delimited JSON) reader — the interchange format most
    * large text/training corpora ship in. Schema explicit, never inferred
    * (inference scans the data twice and types drift between shards);
    * malformed lines land in `_corrupt_record` instead of failing the job
    * (the column is appended to the schema here — PERMISSIVE mode only
    * captures the raw line when the schema carries it), which at 100 TB is
    * the difference between a quarantine bucket and a nightly page.
    */
  def jsonl(spark: SparkSession, schema: StructType, path: String): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** JSONL sink (one JSON object per line, standard corpus shard layout). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC reader — the other columnar lake format Spark supports natively
    * (Hive-lineage warehouses ship it; a 100 TB engine must read the
    * lake it lands in, not demand a rewrite). Schema explicit for the
    * same never-infer reasons as [[jsonl]]; ORC carries min/max stripe
    * statistics, so pushed filters prune stripes exactly like parquet
    * row groups.
    */
  def orc(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Bucketed parquet table writer — the co-located-join layout: rows are
    * hash-distributed into `nBuckets` files per partition by `bucketCol`
    * (optionally sorted within buckets), and the catalog records the
    * layout, so an equi-join or aggregation on the bucket key reads both
    * sides WITHOUT a shuffle exchange (Spark trusts the on-disk
    * distribution). At 100 TB this is the difference between re-shuffling
    * the corpus on every join and never shuffling it again after ingest —
    * pay the distribution cost once at write time, amortize it over every
    * downstream join/groupBy on that key. Both join sides must use the
    * same bucket count (or a divisor, with
    * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`).
    *
    * `path` keeps the data outside the warehouse dir; the table entry
    * lives in the session catalog (swap for a shared metastore in
    * production — the layout metadata is what makes the optimization
    * portable across jobs).
    */
  def writeBucketed(
      df: DataFrame,
      name: String,
      path: String,
      bucketCol: String,
      nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** Hive-style directory-partitioned parquet writer — the coarsest and
    * most universal pruning layout: one `col=value/` directory per
    * partition value, so a predicate on the partition column prunes at
    * the CATALOG level (Spark's `PartitionFilters`, evaluated before any
    * file is opened — stronger than row-group min/max stats, which still
    * read footers). The canonical 100 TB layout for low-cardinality
    * routing keys: date, language, source, tenant. Skew caveat: one
    * directory per value means a hot value concentrates bytes — pair
    * with [[writeSortedRanges]]/[[writeZOrdered]] INSIDE partitions for
    * the fine-grained pruning, and never partition by a high-cardinality
    * key (millions of directories kill every listing).
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  /** Range-partitioned sorted parquet writer — the scan-pruning layout
    * (z-order-lite): rows are range-distributed on `sortCols` and sorted
    * within each output file, so every file covers a NARROW, disjoint key
    * range and its parquet column statistics (min/max per row group)
    * actually prune — a point/range predicate on the sort key reads the
    * few files whose range intersects, not the whole table. Where
    * [[writeBucketed]] optimizes co-located JOINS on a key,
    * `writeSortedRanges` optimizes selective SCANS on a key: at 100 TB a
    * time-keyed event table written this way answers a one-day query by
    * touching one day's files. Pay one range-exchange + local sort at
    * ingest; every later selective read skips.
    */
  def writeSortedRanges(
      df: DataFrame,
      path: String,
      nRanges: Int,
      sortCols: Seq[String]): Unit = {
    require(sortCols.nonEmpty, "need at least one range/sort column")
    df.repartitionByRange(nRanges, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Morton (z-order) interleave of two non-negative integer keys'
    * low `bits` bits — `z = x₀y₀x₁y₁…` — as a pure column expression
    * (a shift/mask reduce, no UDF; stays inside whole-stage codegen).
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be 1..31: $bits")
    (0 until bits).map { i =>
      val xi = call_function("shiftright", x, lit(i)) % 2
      val yi = call_function("shiftright", y, lit(i)) % 2
      xi * lit(1L << (2 * i + 1)) + yi * lit(1L << (2 * i))
    }.reduce(_ + _)
  }

  /** Z-ordered parquet layout: range-partition + sort by the Morton
    * interleave of TWO keys, so each output file covers a small bounding
    * BOX in (x, y) space and parquet column min/max stats prune scans
    * filtered on EITHER key — the multi-dimensional generalization of
    * [[writeSortedRanges]] (which serves one key perfectly and any other
    * key not at all). This is what Delta/Iceberg `OPTIMIZE ZORDER BY`
    * does, as a plain column expression.
    *
    * At 100 TB: the z-sort is one range shuffle at ingest (same cost
    * class as any sorted write) and buys every later selective scan on
    * either dimension; re-cluster periodically as data arrives.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      nRanges: Int,
      xCol: String,
      yCol: String,
      bits: Int = 16): Unit = {
    // keys above 2^bits would silently alias (identical z contribution →
    // same file → no pruning) and negative keys corrupt the bit walk —
    // fail loudly instead. One column-pruned 2-column agg before a full
    // write is noise at ingest; the silent loss of the pruning property
    // this op exists for is not.
    val lim = 1L << bits
    val r = df.agg(
      min(col(xCol).cast("long")), max(col(xCol).cast("long")),
      min(col(yCol).cast("long")), max(col(yCol).cast("long"))).collect()(0)
    if (r.isNullAt(0)) {
      // empty input: the bounds agg returns NULLs — write the (empty)
      // table with its schema instead of NPEing on getLong
      df.write.mode("overwrite").parquet(path)
      return
    }
    require(r.getLong(0) >= 0 && r.getLong(2) >= 0,
      s"writeZOrdered keys must be non-negative: $xCol>=${r.getLong(0)}, $yCol>=${r.getLong(2)}")
    require(r.getLong(1) < lim && r.getLong(3) < lim,
      s"writeZOrdered keys exceed 2^$bits=$lim ($xCol<=${r.getLong(1)}, $yCol<=${r.getLong(3)}): " +
        "raise bits or pre-bucket the keys, or files will alias and stop pruning")
    df.withColumn("__z", zValue(col(xCol).cast("long"), col(yCol).cast("long"), bits))
      .repartitionByRange(nRanges, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction — the maintenance op every streaming/micro-batch
    * ingest needs: each trigger writes a few small files, and a month later
    * the table is a million 2 MB files whose per-file open/footer cost
    * dominates every scan. Rewrites `inPath` to `outPath` sized by BYTES
    * (`ceil(input_bytes / targetBytes)` output files — row counts are the
    * wrong knob when row width varies), preserving an optional sort column
    * so the rewrite also restores min/max pruning ([[writeSortedRanges]]
    * semantics when `sortCol` is set, plain coalesce otherwise).
    *
    * Distinct paths required: a same-path overwrite would delete the
    * input mid-read (Spark reads lazily). At 100 TB run per partition
    * directory, not per table.
    */
  def compactParquet(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortCol: Option[String] = None): Int = {
    require(inPath != outPath, "compaction must write to a new location (lazy reads)")
    require(targetBytes > 0, s"bad targetBytes $targetBytes")
    // Hadoop FS, not java.io.File: the input can live on HDFS/S3/a
    // partitioned directory tree, where a local listing silently yields
    // 0 bytes → nOut=1 → the table coalesced to ONE file (the opposite of
    // this op's purpose). Recursive remote listing + loud empty guard.
    val inputBytes = {
      val p = new org.apache.hadoop.fs.Path(inPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var total = 0L
      var found = false
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { total += f.getLen; found = true }
      }
      require(found, s"compactParquet: no .parquet files under $inPath")
      total
    }
    val nOut = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inPath)
    sortCol match {
      case Some(c) => writeSortedRanges(df, outPath, nOut, Seq(c))
      case None => df.coalesce(nOut).write.mode("overwrite").parquet(outPath)
    }
    nOut
  }

  /** Partition retention sweep — the lifecycle op a versioned corpus store
    * needs alongside [[compactParquet]]: drop every `partCol=value/`
    * directory of a [[writePartitioned]] layout whose value sorts BELOW
    * `keepFrom`, purely from the partition listing (no file is opened, no
    * data scanned — deletion cost is #dropped directories, which is the
    * whole point of retiring data by partition instead of by row).
    * Returns the dropped partition values.
    *
    * Comparison is lexicographic on the unescaped partition value — exact
    * for the canonical retention keys (zero-padded ISO dates/hours, the
    * hive convention); zero-pad numeric keys at write time or they sort
    * as strings here ("9" > "10"). Safety: refuses to drop the LAST
    * partition unless `allowEmpty` — a mis-set cutoff (far-future date)
    * must not silently empty the table. Dropping is irreversible; in a
    * store that pairs this with [[graft.ops.Cdc.snapshotDiff]] versioning,
    * sweep only partitions older than the last blessed snapshot.
    */
  def retentionSweep(
      spark: SparkSession,
      path: String,
      partCol: String,
      keepFrom: String,
      allowEmpty: Boolean = false): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pfx = partCol + "="
    val parts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(pfx))
      .map { s =>
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.getPath.getName.stripPrefix(pfx))
        (s.getPath, v)
      }
    require(parts.nonEmpty, s"retentionSweep: no $pfx* partitions under $path")
    val (drop, keep) = parts.partition(_._2 < keepFrom)
    require(allowEmpty || keep.nonEmpty,
      s"retentionSweep would drop ALL ${parts.size} partitions under $path " +
        s"(keepFrom=$keepFrom > max=${parts.map(_._2).max}); pass allowEmpty=true if intended")
    drop.foreach { case (p, _) => fs.delete(p, true) }
    drop.map(_._2).sorted
  }
}
