package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a scale-factor directory
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §2).
  *
  * Reference grounding: the reference's only source is a line-oriented
  * text scan (`/root/reference/test.go:16-25`); the engine's primary
  * sources are columnar parquet scans so Catalyst can push filters and
  * prune columns — at 100 TB the scan is the dominant cost and pushdown
  * is the single biggest lever.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Pinned catalog: each (session, dir, table, data fingerprint) is
  // RESOLVED once — the first call reads the parquet footer, pins the
  // SCHEMA, and registers a dir-scoped temp view; later calls rebuild
  // the (cheap) scan from the pinned schema with no footer read. This
  // is the local analogue of a metastore-pinned external table (a real
  // deployment runs CREATE EXTERNAL TABLE / saveAsTable once and
  // `spark.table` thereafter — exactly how `Joins.bucketedJoin` already
  // stages its bucketed tables), so SQL users and the DataFrame API
  // share one catalog and no query pays schema inference per call. The
  // fingerprint makes an in-place data regeneration invalidate the pin
  // (superseded entries are replaced, so the map is bounded by live
  // (dir, table) pairs). Sessions are held in a WeakHashMap keyed by
  // the session OBJECT — object identity cannot collide the way
  // identity hash codes can — and the VALUE side stores only
  // (fingerprint, schema), which reference no session, so a stopped
  // session's entry really is GC-able (caching the DataFrame itself
  // would strongly reference the key through Dataset.sparkSession and
  // pin the entry forever). This is why the pins stay out of
  // `operators.Artifacts`: that registry is process-wide, while a pin
  // belongs to one session and must die with it.
  private val catalog = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.concurrent.TrieMap[(String, String),
      (String, org.apache.spark.sql.types.StructType)]]()

  private def sessionCatalog(spark: SparkSession) = catalog.synchronized {
    var m = catalog.get(spark)
    if (m == null) {
      m = new scala.collection.concurrent.TrieMap[(String, String),
        (String, org.apache.spark.sql.types.StructType)]()
      catalog.put(spark, m)
    }
    m
  }

  /** Catalog view name for a (dir, table) pin — discoverable via
    * `spark.catalog.listTables` beside the bucketed staging tables.
    * Dir is identified by its md5 (String.hashCode collides too easily
    * to name data). */
  def viewName(dir: String, name: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    s"graft_cat_${md}_$name"
  }

  /** Columnar scan of one table, via the pinned catalog. Filters and
    * projections applied downstream reach the parquet reader (verified
    * via `.explain` PushedFilters) — a temp view is just a named plan,
    * not a materialization.
    *
    * Timestamp normalization — the engine's surface type for event time
    * is TimestampType (UTC instants), whatever the parquet footer says:
    *  - TIMESTAMP(NANOS) footers (early testdata generations) reach
    *    Spark as epoch-nanos Long (`nanosAsLong`, set in Engine) →
    *    exact integer `DIV 1000` to micros (not `/` — double division
    *    loses precision above 2^53 ns);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) footers (current
    *    generation) reach Spark as TIMESTAMP_NTZ → cast to TIMESTAMP,
    *    which under the engine's pinned UTC session zone keeps the
    *    wall-clock value bit-for-bit (DuckDB reads the same file as a
    *    naive TIMESTAMP, so oracle `epoch_us` parity is unchanged). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    def convert(raw: DataFrame): DataFrame = {
      val nanosFixed =
        if (name == "events" &&
            raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts DIV 1000")))
        else raw
      nanosFixed.schema.fields.foldLeft(nanosFixed) { (df, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
          df.withColumn(f.name,
            df.col(f.name).cast(org.apache.spark.sql.types.TimestampType))
        else df
      }
    }
    val m = sessionCatalog(spark)
    val fp = graft.Fs.tableFingerprint(dir, name)
    m.get((dir, name)) match {
      case Some((`fp`, schema)) =>
        // pinned schema → no footer read; scan construction is cheap
        convert(spark.read.schema(schema).parquet(s"$dir/$name.parquet"))
      case _ =>
        val raw = spark.read.parquet(s"$dir/$name.parquet")
        val df = convert(raw)
        df.createOrReplaceTempView(viewName(dir, name))
        m.put((dir, name), (fp, raw.schema))
        df
    }
  }

  /** Line-oriented text scan — the reference's native record model
    * (one record = one line, `/root/reference/test.go:22-25`). */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Register every table as a temp view for `spark.sql` use. Tables whose
    * parquet file is absent in this sf dir are skipped (mirrors the
    * driver-side check.py existence guard) so one missing optional table
    * doesn't abort registration partway. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      if (new java.io.File(s"$dir/$n.parquet").exists())
        apply(spark, dir, n).createOrReplaceTempView(n)
    }
}
