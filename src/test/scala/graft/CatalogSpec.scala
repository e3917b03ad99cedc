package graft

import org.apache.spark.sql.functions._

/** Pins the `events.ts` decode against the fixture's *physical* bytes.
  *
  * Round 9 regression: the fixture was regenerated from INT64
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and the then-hardcoded `div 1000`
  * landed every event in January 1970 — nothing in the engine failed
  * loudly; only the external oracle caught it. These tests make any future
  * unit drift fail the suite directly:
  *
  *  - the golden test reads one raw int64 straight off the parquet pages
  *    (no Spark, no engine code) and asserts [[Catalog.load]] decodes that
  *    exact row to the instant the footer's logical type annotation
  *    implies;
  *  - the range canary asserts the decoded span looks like the fixture's
  *    30-day 2024 window — any ×1000/÷1000 error throws the span into
  *    1970 or the year 55000+.
  */
class CatalogSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("footer sniff classifies the current fixture") {
    val unit = Catalog.eventsTsUnit(spark, sfDir)
    // Regenerations may flip this; both branches are legal. What matters
    // is that the sniff agrees with what the golden test below verifies.
    assert(unit == Catalog.TsUnit.Native || unit == Catalog.TsUnit.Nanos)
  }

  test("golden: raw int64 on disk decodes to the annotated instant") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.schema.LogicalTypeAnnotation

    val conf = spark.sessionState.newHadoopConf()
    // same first-data-file resolution as eventsTsUnit, so the golden
    // test keeps working if the fixture ever ships as a directory of
    // part files instead of a single file
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(
        Catalog.firstEventsDataFile(spark, sfDir), conf))
    val (eventId, rawTs, unitIsNanos) =
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val nanos = schema.getType(schema.getFieldIndex("ts"))
          .getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => true // unannotated INT64 = the old raw nano-epoch form
        }
        val pages = reader.readNextRowGroup()
        val rr = new ColumnIOFactory().getColumnIO(schema)
          .getRecordReader(pages, new GroupRecordConverter(schema))
        val g = rr.read()
        (g.getLong("event_id", 0), g.getLong("ts", 0), nanos)
      } finally reader.close()

    val expectedMicros = if (unitIsNanos) rawTs / 1000L else rawTs
    val decoded = Catalog.load(spark, sfDir, "events")
      .filter(col("event_id") === eventId)
      .select(unix_micros(col("ts")))
      .head().getLong(0)
    assert(decoded == expectedMicros,
      s"event_id=$eventId raw=$rawTs nanos=$unitIsNanos: " +
        s"decoded $decoded != expected $expectedMicros")
  }

  test("range canary: decoded span is the 2024 30-day fixture window") {
    val mm = Catalog.load(spark, sfDir, "events")
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("spanMicros"))
      .head()
    val lo = mm.getTimestamp(0).toInstant
    val hi = mm.getTimestamp(1).toInstant
    val spanDays = mm.getLong(2).toDouble / (86400.0 * 1e6)
    assert(lo.toString.startsWith("2024-"), s"min ts $lo not in 2024")
    assert(hi.toString.startsWith("2024-"), s"max ts $hi not in 2024")
    assert(spanDays > 20 && spanDays < 40,
      s"span $spanDays days is not the ~30-day fixture window")
  }

  test("Verify's drift tripwire passes the real fixture, aborts a " +
    "mis-decoded one") {
    Verify.fixtureDriftCheck(spark, sfDir) // must not throw
    // stage a fixture that reproduces the round-9 failure shape: an
    // unannotated INT64 `ts` carrying MICROS. The sniff classifies
    // unannotated as the raw-nano fixture, divides by 1000, and every
    // event collapses into January 1970 — which the tripwire must catch.
    val fx = scratchDir("graft_drift_fx_")
    Catalog.load(spark, sfDir, "events")
      .withColumn("ts", unix_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$fx/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Verify.fixtureDriftCheck(spark, fx)
    }
    assert(e.getMessage.contains("fixture/decode drift"))
  }

  test("adjusted-UTC micros fixture classifies NativeAdjusted and " +
    "round-trips values") {
    // stage an events fixture whose ts is TIMESTAMP(MICROS,
    // isAdjustedToUTC=true): Spark writes exactly that annotation for
    // TimestampType under outputTimestampType=TIMESTAMP_MICROS. Spark 4
    // refuses to read an adjusted column under a requested NTZ schema,
    // so this pins the NativeAdjusted branch (direct TimestampType
    // read, no NTZ cast) end to end.
    val fx = scratchDir("graft_adjusted_fx_")
    val src = Catalog.load(spark, sfDir, "events").limit(1000).cache()
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try src.write.mode("overwrite").parquet(s"$fx/events.parquet")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      assert(Catalog.eventsTsUnit(spark, fx) ==
        Catalog.TsUnit.NativeAdjusted)
      // row-level equality against the NTZ-fixture rows, not just an
      // aggregate: every (event_id, micros) pair must survive the
      // adjusted round-trip exactly
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expected = rows(src)
      val got = rows(Catalog.load(spark, fx, "events"))
      assert(got == expected,
        s"adjusted decode drift: ${got.size} rows, first diff " +
          got.zip(expected).find(p => p._1 != p._2))
      assert(Catalog.load(spark, fx, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    } finally { src.unpersist(); () }
  }

  test("INT96 fixture classifies NativeAdjusted and round-trips values") {
    // Spark's default outputTimestampType: an unannotated INT96 `ts`.
    // Classified by its primitive type, not sent to the raw-nanos
    // branch (whose INT64 read schema fails every scan with
    // PARQUET_COLUMN_DATA_TYPE_MISMATCH).
    val fx = scratchDir("graft_int96_fx_")
    val src = Catalog.load(spark, sfDir, "events").limit(1000).cache()
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try src.write.mode("overwrite").parquet(s"$fx/events.parquet")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      assert(Catalog.eventsTsUnit(spark, fx) ==
        Catalog.TsUnit.NativeAdjusted)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expected = rows(src)
      val got = rows(Catalog.load(spark, fx, "events"))
      assert(got.nonEmpty && got == expected,
        s"INT96 decode drift: ${got.size} rows, first diff " +
          got.zip(expected).find(p => p._1 != p._2))
      assert(Catalog.load(spark, fx, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    } finally { src.unpersist(); () }
  }

  test("ts is exposed as TimestampType to every consumer") {
    val dt = Catalog.load(spark, sfDir, "events").schema("ts").dataType
    assert(dt == org.apache.spark.sql.types.TimestampType)
  }
}
