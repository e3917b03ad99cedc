package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Write-path operators (SURVEY §2.1 S4/S6/S7): the reference's
  * year/month-partitioned gzip CSV layout and the one-CSV-per-window
  * export, plus the schema'd CSV read that consumes them back.
  */
object Sinks {

  /** S7: Hive-partitioned gzip CSV write — the engine equivalent of the
    * reference's manual `data/{year}/{month:02d}/...csv.gz` layout
    * (cloud_TAQ/taq_chunks.py:136-142). `df` must carry `year`/`month`
    * columns; they become directory levels, so readers get partition
    * pruning on them for free — the property the reference's layout was
    * hand-building.
    */
  def writePartitionedGzipCsv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .partitionBy("year", "month")
      .option("header", "true")
      .option("compression", "gzip")
      .csv(dir)

  /** S4: schema'd CSV(.gz) read. Partition columns listed in `schema`
    * are recovered from the directory structure; column pruning against
    * the declared schema is automatic.
    */
  def readCsv(spark: SparkSession, dir: String,
              schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(dir)

  /** Small-file compaction — the standing maintenance op of any large
    * parquet lake: streaming/micro-batch ingest (Streams.windowedMeans,
    * the reference's per-day loop) accretes files far below the
    * scan-efficient size, and every downstream query then pays per-file
    * open/footer/task overhead. Rewrites `dir` into
    * ceil(bytes / targetBytes) files via a round-robin repartition
    * (parquet re-encodes, so output sizing is approximate — the point is
    * file COUNT, not byte-exact splits) and swaps the directory
    * atomically-enough for a single-writer lake (write temp, delete,
    * rename). Returns (filesBefore, filesAfter).
    */
  def compactParquet(spark: SparkSession, dir: String,
                     targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"compactParquet: targetBytes $targetBytes")
    val d = new java.io.File(dir)
    // flat directories only: a Hive-partitioned layout (date=…/ subdirs)
    // needs PER-PARTITION compaction — rewriting it flat here would
    // leave two conflicting layouts side by side and corrupt the table.
    // Fail fast instead of corrupting.
    val subdirs = Option(d.listFiles()).getOrElse(Array())
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
    require(subdirs.isEmpty,
      s"compactParquet: $dir is partitioned (${subdirs.head.getName}/…) — " +
        "compact each partition directory instead " +
        "(compactPartitionedParquet preserves the layout)")
    def parts(f: java.io.File) = Option(f.listFiles()).getOrElse(Array())
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
    val before = parts(d)
    // bucketed layouts encode the bucket id IN the file name
    // (part-…_00042.c000…): a naive rewrite would silently destroy the
    // bucket↔file mapping while the catalog still claims the spec, and
    // every downstream bucketed join/agg would then read WRONG buckets —
    // a correctness corruption, not just a lost optimization. Refuse
    // loudly; the catalog-aware [[compactBucketedTable]] preserves it.
    val bucketName = ".*_\\d{5}\\.c\\d{3}.*\\.parquet".r
    require(!before.exists(f => bucketName.matches(f.getName)),
      s"compactParquet: $dir holds BUCKETED data files " +
        s"(${before.find(f => bucketName.matches(f.getName)).get.getName}) " +
        "— rewriting them flat would corrupt the bucket↔file mapping " +
        "the catalog advertises; use compactBucketedTable")
    val nOut = math.max(1,
      math.ceil(before.map(_.length()).sum.toDouble / targetBytes).toInt)
    val tmp = dir + ".compact_tmp"
    spark.read.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(tmp)
    val out = new java.io.File(tmp)
    // rename the NEW files in first (uniquely prefixed so they can never
    // collide with existing part names), verify every rename, and only
    // then delete the originals — a failed rename leaves the original
    // data intact instead of an emptied table
    val stamp = s"compact_${System.nanoTime()}"
    parts(out).zipWithIndex.foreach { case (f, i) =>
      val target = new java.io.File(d, s"${stamp}_$i.parquet")
      require(f.renameTo(target),
        s"compactParquet: rename ${f.getPath} -> ${target.getPath} failed; " +
          "original files left untouched")
    }
    // re-list rather than deleting only the `before` snapshot: a data
    // file that appeared between the initial listing and the spark.read
    // was included in the compacted output, and leaving it behind would
    // duplicate its rows — every .parquet not carrying the new stamp
    // prefix is by construction part of the compacted input (single
    // writer), so sweep them all
    parts(d).filterNot(_.getName.startsWith(stamp)).foreach(_.delete())
    Option(out.listFiles()).getOrElse(Array()).foreach(_.delete())
    out.delete()
    (before.length, parts(d).length)
  }

  /** Catalog-aware compaction of a BUCKETED table — the maintenance op
    * [[compactParquet]] refuses, done right: the bucket spec is read
    * from the catalog, the data is re-clustered by the bucket columns
    * into exactly `numBuckets` tasks (repartition's HashPartitioning is
    * the same Murmur3 ladder bucketing uses, so each task holds exactly
    * one bucket and writes exactly one file — the floor a bucketed
    * layout can compact to), and rewritten through `bucketBy`+`sortBy`
    * into a fresh location under a temp name; only after the rewrite
    * fully lands is the original dropped and the temp RENAMED to the
    * table's name (metadata-only), so a failed rewrite leaves the
    * original intact. Every downstream zero-exchange plan keyed on the
    * bucket columns survives verbatim — pinned in CompactSpec with a
    * post-compact join plan. Returns (filesBefore, filesAfter).
    */
  def compactBucketedTable(spark: SparkSession, table: String): (Int, Int) = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(sys.error(
      s"compactBucketedTable: $table has no bucket spec — " +
        "use compactParquet on its location"))
    val loc = java.nio.file.Paths.get(meta.location)
    def files(p: java.nio.file.Path): Int = {
      val s = java.nio.file.Files.list(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet"))
        .count().toInt
      finally s.close()
    }
    val before = files(loc)
    val keys = spec.bucketColumnNames
    val sorts = spec.sortColumnNames
    val tmpTbl = s"${ident.table}_compact_tmp"
    val tmpPath = s"$loc.compact_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTbl")
    // read the data files RAW (catalog schema, no bucket metadata): a
    // catalog read advertises HashPartitioning on the bucket key, the
    // optimizer then drops the repartition as redundant, and the write
    // inherits the SCAN's task layout — one file per (read task,
    // bucket), i.e. no compaction at all (measured: 48 -> 42 files).
    // The raw read keeps the repartition a real shuffle, so task i
    // holds exactly bucket i (same Murmur3 pmod ladder) and writes
    // exactly one file.
    val w0 = spark.read.schema(spark.table(table).schema)
      .parquet(loc.toString)
      .repartition(spec.numBuckets, keys.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
    val w = if (sorts.nonEmpty) w0.sortBy(sorts.head, sorts.tail: _*) else w0
    w.option("path", tmpPath).format("parquet").saveAsTable(tmpTbl)
    spark.sql(s"DROP TABLE ${ident.quotedString}")
    spark.sql(s"ALTER TABLE $tmpTbl RENAME TO ${ident.quotedString}")
    // the original data dir is orphaned once the swap lands
    java.nio.file.Files.walk(loc)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    (before, files(java.nio.file.Paths.get(tmpPath)))
  }

  /** Per-partition compaction of a Hive-partitioned lake — the
    * layout-preserving form [[compactParquet]]'s partition refusal
    * points at: every LEAF partition directory (`cell=…/`,
    * `year=…/month=…/`) is compacted in place with the flat rewriter,
    * so the directory structure — and with it partition pruning and
    * every static-filter plan downstream (e4b/e11b's probes) — is
    * untouched; only the file count within each partition drops.
    * Returns summed (filesBefore, filesAfter) across partitions.
    */
  def compactPartitionedParquet(spark: SparkSession, dir: String,
                                targetBytes: Long): (Int, Int) = {
    val root = new java.io.File(dir)
    def subdirs(f: java.io.File) = Option(f.listFiles()).getOrElse(Array())
      .filter(x => x.isDirectory && !x.getName.startsWith("."))
    require(subdirs(root).nonEmpty,
      s"compactPartitionedParquet: $dir has no partition " +
        "subdirectories — use compactParquet")
    def leaves(f: java.io.File): Seq[java.io.File] = {
      val s = subdirs(f)
      if (s.isEmpty) Seq(f) else s.toSeq.flatMap(leaves)
    }
    leaves(root)
      .filter(l => Option(l.listFiles()).getOrElse(Array())
        .exists(f => f.getName.endsWith(".parquet") && f.length() > 0))
      .map(l => compactParquet(spark, l.getPath, targetBytes))
      .foldLeft((0, 0)) { case ((b, a), (b2, a2)) => (b + b2, a + a2) }
  }

  /** Gzip JSONL write — the interchange format document corpora actually
    * ship in (one JSON object per line, gzip per part file). Spark's json
    * sink splits by partition, so the write parallelizes like any other
    * and downstream readers get per-file parallelism back.
    */
  def writeJsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("compression", "gzip")
      .json(dir)

  /** Schema'd JSONL(.gz) read: no sampling-based inference pass over
    * 100 TB (schema inference reads the data once before the real scan);
    * malformed lines surface as nulls under the default PERMISSIVE mode
    * rather than killing the job.
    */
  def readJsonl(spark: SparkSession, dir: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(dir)

  /** ORC write — the other columnar lake format Spark supports natively
    * (same vectorized reader, predicate pushdown, and column pruning as
    * parquet), for lakes that mix both. Snappy-compressed, splittable,
    * parallel per partition like any columnar sink.
    */
  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").orc(dir)

  /** Schema'd ORC read — declared schema, no inference, so scans prune
    * columns and fail fast on drift exactly as the parquet catalog does.
    */
  def readOrc(spark: SparkSession, dir: String,
              schema: StructType): DataFrame =
    spark.read.schema(schema).orc(dir)

  /** Schema-evolution read: union the schemas of every parquet path
    * (`mergeSchema`), null-filling columns a writer generation lacked —
    * the lake pattern for tables whose schema grew over time. The merge
    * pass reads FOOTERS only (per-file metadata), never data; at 100 TB
    * its cost is bounded by file count, and a declared unified schema
    * (the [[graft.Catalog]] style) skips even that.
    */
  def readParquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** S6: the reference's square correlation-matrix CSV, one file per
    * matrix — series ids as BOTH the header row and the index column,
    * unit diagonal, one value cell per ordered pair (pandas
    * `data.corr().to_csv(fname)`: correlation_matrix_exporter.py:163,
    * 227-235; README.md:43 shows the matrix form). The caller hands the
    * single `cells` row (array of (i, j, rho) structs, i/j INDEXES into
    * `ids`, i < j, rho already rounded) and the id order, and the k+1
    * CSV lines are assembled straight off that array — no explode to
    * k²/2 rows, no mirror union, no regroup shuffle, no sort. Layout:
    * pandas-style empty index header cell, "" for undefined or absent
    * pairs, unit "1.0" diagonal, Spark's own double→string cell text
    * (the rho→string cast runs inside the plan).
    *
    * Scale shape: the matrix is dimension-sized (k² cells at the
    * documented k≈1-2k UDAF ceiling, ≤ a few MB), so one task
    * assembling lines is the single-file contract a downstream pandas
    * consumer needs — never a bulk-data pattern.
    *
    * Contract: `cells` must be ONE row (an ungrouped aggregate always
    * yields exactly one, even over empty input, so the structural
    * callers cannot violate this; a multi-row input would emit one
    * matrix per row into the same file). A ZERO-row input (e.g. a
    * per-window filter that matched nothing) writes an empty file — the
    * reference's skip-empty-window contract
    * (correlation_matrix_exporter.py:125-126), not an error.
    */
  def writeWideMatrixCsvDense(cells: DataFrame, ids: Seq[Long],
                              path: String): Unit = {
    val session = cells.sparkSession
    import session.implicits._
    val k = ids.size
    val strs = cells.select(transform(col(cells.columns.head), c =>
      struct(c.getField("i").as("i"), c.getField("j").as("j"),
        when(c.getField("rho").isNull, lit(""))
          .otherwise(c.getField("rho").cast("string")).as("s"))).as("cs"))
    val header = "," + ids.mkString(",")
    val lines = strs.flatMap { row =>
      val m = Array.fill(k, k)("")
      var d = 0
      while (d < k) { m(d)(d) = "1.0"; d += 1 }
      row.getSeq[org.apache.spark.sql.Row](0).foreach { c =>
        val i = c.getInt(0); val j = c.getInt(1); val s = c.getString(2)
        m(i)(j) = s
        m(j)(i) = s
      }
      Iterator.single(header) ++ (0 until k).iterator.map { r =>
        val sb = new java.lang.StringBuilder(8 * k)
        sb.append(ids(r))
        var cdx = 0
        while (cdx < k) { sb.append(',').append(m(r)(cdx)); cdx += 1 }
        sb.toString
      }
    }
    lines.coalesce(1).write.mode("overwrite").text(path)
    renameParts(session, path, ".txt", ".csv")
  }

  private def renameParts(spark: SparkSession, dir: String,
                          from: String, to: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(from))
      .foreach { p =>
        val t = new Path(p.getParent,
          p.getName.stripSuffix(from) + to)
        fs.rename(p, t); ()
      }
  }

  /** Read a square matrix CSV written by [[writeWideMatrixCsvDense]]
    * back as the long upper-triangle (i, j, rho) form. `ids` is the
    * writer's column order, declared as the read schema — no inference
    * pass over a k+1-column CSV.
    *
    * An empty id set short-circuits to an empty relation with the same
    * shape: a dir with no data files can't
    * infer a schema and `unpivot` rejects zero value columns, and the
    * reference's per-window contract is swallow-and-continue on empties
    * (correlation_matrix_exporter.py:125-126), never a crash.
    */
  def readWideMatrixCsvLong(spark: SparkSession, path: String,
                            ids: Seq[Long]): DataFrame =
    if (ids.isEmpty)
      spark.range(0).select(col("id").as("i"), col("id").as("j"),
        col("id").cast("double").as("rho"))
    else {
      // narrow parse: split each line instead of a k+1-column CSV read
      // + k-column unpivot — the wide route's codegen and row width grow
      // with k (measured ~3 s at k=500 for a 500-row matrix). Cells are
      // bare doubles (never quoted/escaped), so the split is exact; ""
      // casts to null and "NaN" to NaN, the same semantics the CSV
      // parser gave. The header line (empty first field) is dropped by
      // the row_id cast guard.
      spark.read.text(path)
        .select(split(col("value"), ",", -1).as("f"))
        .select(expr("try_cast(f[0] AS BIGINT)").as("i"),
          posexplode(expr(s"slice(f, 2, ${ids.size})"))
            .as(Seq("pos", "cell")))
        .where(col("i").isNotNull)
        .select(col("i"),
          element_at(typedLit(ids), col("pos") + 1).as("j"),
          expr("try_cast(cell AS DOUBLE)").as("rho"))
        .where(col("i") < col("j"))
    }
}
