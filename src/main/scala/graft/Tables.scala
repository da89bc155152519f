package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftSqlBridge
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md §A) plus the
  * reference-shaped metadata relations (FIXTURES.md §B) synthesized
  * deterministically from the star schema, so every engine query has an exact
  * DuckDB-oracle twin (the same synthesis is published as SQL CTEs in
  * [[Oracle]]).
  *
  * Reference data model: supabase/storage `storage.objects`
  * (migrations/tenant/0002-storage-schema.sql:68, 0026-objects-prefixes.sql:3).
  * Keys are `/`-separated S3 keys compared byte-wise (COLLATE "C") — Spark's
  * UTF8String binary ordering matches exactly (SURVEY §1.2).
  */
object Tables {

  val starTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Resolver(spark, s"$dir/$name.parquet")

  /** Reads TIMESTAMP(NANOS) parquet columns as LongType; it changes the
    * inferred schema, so the resolver keys on it. */
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The session's catalog of stored relations: path → (file stamp,
    * analyzed relation). A `spark.read.parquet` lists the files and runs a
    * schema-inference job; this runs it once per (session, path,
    * `nanosAsLong`) until the files under the path change. Each call gets
    * `newInstance()` of the stored relation, so its attribute IDs are fresh
    * and self-joins / `df("col")` behave as with two separate reads. Only
    * the resolution is reused: nothing is persisted, every action scans.
    *
    * Weak on the session. The stored relations reference their session, so
    * the per-session map sits behind a soft reference: a dropped session's
    * map is cleared under memory pressure and the session then collected. */
  private object Resolver {
    /** (name, length, mtime) of every file under the path, sorted; Spark
      * part-file names change on every rewrite. Empty if the path is absent. */
    private type Stamp = Seq[(String, Long, Long)]
    private final case class Entry(stamp: Stamp, rel: LogicalRelation)
    private type Entries = ConcurrentHashMap[(String, String), Entry]
    private val bySession =
      new java.util.WeakHashMap[SparkSession, SoftReference[Entries]]()

    private def entries(spark: SparkSession): Entries = bySession.synchronized {
      Option(bySession.get(spark)).flatMap(r => Option(r.get())).getOrElse {
        val m = new Entries
        bySession.put(spark, new SoftReference(m))
        m
      }
    }

    private def fs(spark: SparkSession, path: Path) =
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** `listStatus`, not `listFiles`: the located statuses `listFiles`
      * builds load each local file's permissions by forking a process. */
    private def stampOf(spark: SparkSession, path: Path): Stamp = {
      val files = fs(spark, path)
      def walk(p: Path): Seq[(String, Long, Long)] = files.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      try walk(path).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    }

    def apply(spark: SparkSession, path: String): DataFrame = {
      val m = entries(spark)
      val key = (path, spark.conf.get(NanosAsLong, "false"))
      val stamp = stampOf(spark, new Path(path))
      val rel = Option(m.get(key)).filter(_.stamp == stamp).map(_.rel).getOrElse {
        // a miss is where staged inputs turn over: forget deleted paths
        m.keySet.removeIf { k => val p = new Path(k._1); !fs(spark, p).exists(p) }
        val r = spark.read.parquet(path).queryExecution.analyzed match {
          case r: LogicalRelation => r
          case other => throw new IllegalStateException(
            s"$path resolved to ${other.nodeName}, not a file relation")
        }
        m.put(key, Entry(stamp, r))
        r
      }
      GraftSqlBridge.ofRows(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], rel.newInstance())
    }
  }

  /** Normalize a time column to a µs TimestampType instant equal to the
    * file's naive value read as UTC — the same contract as [[events]]'s
    * `ts`, applied to every loader time column so a driver regen that
    * flips the physical shape (TIMESTAMP(NANOS) ↔ timestamp[us]/NTZ ↔
    * DATE — it has happened twice) can never break the query surface.
    * DuckDB's naive reads match 1:1, so oracles are unaffected. */
  private def tsNormalized(spark: SparkSession, df: DataFrame,
                           cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType}
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cols.foldLeft(df) { (d, c) =>
      d.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType) => // nanos-as-long regen: integer div, not `/`
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case Some(TimestampNTZType) | Some(DateType) =>
          d.withColumn(c, col(c).cast("timestamp")) // identity under UTC
        case _ => d
      }
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    tsNormalized(spark, table(spark, dir, "lineitem"), Seq("l_shipdate"))
  def orders(spark: SparkSession, dir: String): DataFrame =
    tsNormalized(spark, table(spark, dir, "orders"), Seq("o_orderdate"))
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.parquet:ts` has shipped two physical shapes across driver
    * testdata generations: TIMESTAMP(NANOS) (readable only as LongType nanos
    * under `nanosAsLong`) and INT64 timestamp[us] (reads as TIMESTAMP_NTZ).
    * Branch on the loaded dtype instead of hard-coding one — the reference's
    * adapter layer equally re-reads column shape from the live catalog per
    * query (src/storage/database/pg.ts:544, columns.ts:1-96).
    *
    * Surface contract (unchanged since r1): a µs-precision TimestampType whose
    * instant equals the file's naive value read as UTC — exactly DuckDB's
    * naive `CAST(ts AS TIMESTAMP)` / `epoch_us(ts)` semantics, so oracles
    * compare 1:1. The NTZ→timestamp cast is session-TZ-dependent, so UTC is
    * re-pinned here for sessions this library didn't build (every graft entry
    * point already pins it). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // tolerate a TIMESTAMP(NANOS) regen — a no-op on µs data
    spark.conf.set(NanosAsLong, "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // ns-since-epoch: integer `div`, not `/` — ~1.7e18 exceeds double's
        // 2^53 exact-integer range, float division would corrupt the low bits
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // with session TZ = UTC this cast is an identity on the stored micros
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already an instant
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Unique per-row suffix. The synthetic lineitem has ~20% duplicate
    * (l_orderkey, l_linenumber) pairs, so keys need a disambiguator or every
    * tie-breaking operator (min_by, LIMIT boundaries) goes nondeterministic.
    * Inputs are integers only — double→string formatting differs between
    * engines, epoch-ms and floored prices do not.
    */
  private def uniqCol = substring(md5(concat_ws("|",
    col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"),
    floor(col("l_extendedprice")).cast("long"),
    // l_shipdate reads as TIMESTAMP_NTZ; cast to session-tz (UTC) timestamp
    // so unix_millis matches DuckDB's epoch_ms over the naive value
    unix_millis(col("l_shipdate").cast("timestamp")),
    col("l_linestatus"))), 1, 8)

  /** S3-key column synthesized from a lineitem row (shared by objects and the
    * scanner's S3-listing snapshot):
    *   - l_linenumber == 1 → `<returnflag>/<orderkey>-<uniq>.dat`          (depth-2 leaf)
    *   - otherwise        → `<returnflag>/<orderkey>/item-<n>-<uniq>.dat`  (depth-3)
    * so delimiter collapse sees both leaf files and folders at every prefix.
    */
  private def keyCol =
    when(col("l_linenumber") === 1,
      concat(col("l_returnflag"), lit("/"), col("l_orderkey"), lit("-"), uniqCol, lit(".dat")))
      .otherwise(concat(col("l_returnflag"), lit("/"), col("l_orderkey"),
        lit("/item-"), col("l_linenumber"), lit("-"), uniqCol, lit(".dat")))

  /** Bump when any synthesized-relation expression changes, so stale
    * materializations under /tmp are never reused. */
  private val synthVersion = "v3" // v3: loader time columns normalized to instants

  /** Fingerprint of the driver testdata the synthesized relations derive
    * from. The driver regenerates /root/testdata between rounds (it did at
    * r5→r6 and again mid-r7); a cache keyed only on (version, dir) would
    * silently serve relations built from the OLD data. mtime+size of every
    * source parquet folds into the cache path, so a regen — even one that
    * keeps schemas identical — forces a rebuild. */
  private[graft] def sourceFingerprint(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val sig = files.map(f => s"${f.getName}:${f.lastModified}:${f.length}").mkString("|")
    // md5 keeps the path short; collisions irrelevant at this cardinality
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** Materialize a synthesized relation once per (relation, sfDir) as parquet
    * — the storage layout a real deployment would have (the reference's
    * `storage.objects` is a stored table, not a per-query derivation).
    * Layout IS the index (SURVEY §4): partitioned by `bucket_id` when the
    * relation has one (partition pruning replaces the btree's leading column)
    * and sorted by key within partitions (parquet min/max stats give
    * row-group skipping on `name` predicates — the covering-index replacement).
    */
  private def materialized(spark: SparkSession, dir: String, name: String,
                           partCol: Option[String], sortCol: String)
                          (build: => DataFrame): DataFrame = {
    val safe = dir.replace('/', '_')
    val out = s"/tmp/graft_tables/$synthVersion/$safe-${sourceFingerprint(dir)}/$name"
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      val w = partCol match {
        case Some(p) => build.repartition(col(p)).sortWithinPartitions(col(sortCol))
          .write.partitionBy(p)
        case None => build.sortWithinPartitions(col(sortCol)).write
      }
      w.mode("overwrite").parquet(out)
    }
    Resolver(spark, out)
  }

  /** The `storage.objects` analog, synthesized from `lineitem` and stored
    * partitioned by `bucket_id`, name-sorted (see [[materialized]]).
    *
    * Columns mirror FIXTURES.md §B `objects`. `size` uses floor()+cast because
    * Spark's double→bigint cast truncates while DuckDB's rounds — floor() first
    * makes both exact and identical.
    */
  def objects(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "objects", Some("bucket_id"), "name") {
      lineitem(spark, dir).select(
        keyCol.as("name"),
        col("l_linestatus").as("bucket_id"),
        concat(lit("user-"), col("l_suppkey") % 50).as("owner_id"),
        floor(col("l_extendedprice")).cast("long").as("size"),
        col("l_shipdate").as("created_at"),
        col("l_shipdate").as("updated_at"),
        md5(concat(col("l_orderkey"), lit("-"), col("l_linenumber"))).as("version"),
        when(col("l_linenumber") % 3 === 0, lit("image/png"))
          .when(col("l_linenumber") % 3 === 1, lit("text/plain"))
          .otherwise(lit("application/json")).as("mimetype"),
        // `user_metadata` jsonb (0025-custom-metadata.sql): built via concat
        // (not to_json) so the byte form is engine-independent; NULL for
        // every 7th row — jsonb NULL is the reference's default
        when(col("l_linenumber") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("{\"tier\":\""),
            when(col("l_partkey") % 3 === 0, lit("gold"))
              .when(col("l_partkey") % 3 === 1, lit("silver"))
              .otherwise(lit("bronze")),
            lit("\",\"idx\":"), (col("l_partkey") % 100).cast("string"), lit("}")))
          .as("user_metadata"))
    }

  /** S3-side listing snapshot (`storage._s3_remote_keys_<ts>` scratch table,
    * reference src/storage/database/pg.ts:1615-1629): the anti-join partner of
    * `objects` in the orphan scanner. Synthesized from lineitem with a skewed
    * filter so both (S3 ∖ DB) and (DB ∖ S3) are non-empty: S3 has keys for
    * linenumber <= 5, DB query side will use a different subset.
    */
  def s3Keys(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "s3_keys", None, "key") {
      lineitem(spark, dir).filter(col("l_linenumber") <= 5)
        .select(keyCol.as("key"),
          floor(col("l_extendedprice")).cast("long").as("size"))
    }

  /** `storage.buckets` analog (reference 0004-bucket + pg.ts:746-789),
    * synthesized from `nation` (25 rows — bucket catalogs are small dims).
    * Every 4th name carries a literal `_100%` and every 4th+1 a `.media`
    * suffix so the listBuckets contains-search exercises escaped-LIKE
    * semantics (`%`/`_` in the term must match literally, pg.ts:41-47). */
  def buckets(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "buckets", None, "name") {
      val bucketName = concat(lit("bkt_"), lower(col("n_name")),
        when(col("n_nationkey") % 4 === 0, lit("_100%"))
          .when(col("n_nationkey") % 4 === 1, lit(".media"))
          .otherwise(lit("")))
      nation(spark, dir).select(
        bucketName.as("id"),
        bucketName.as("name"),
        concat(lit("user-"), col("n_nationkey") % 50).as("owner_id"),
        (col("n_nationkey") % 2 === 0).as("public"),
        ((col("n_nationkey") + 1).cast("long") * 1048576L).as("file_size_limit"),
        expr("timestampadd(DAY, n_nationkey, TIMESTAMP '2020-01-01 00:00:00')")
          .as("created_at"))
    }

  /** The D2 write batch (objects in a size band + one brand-new key),
    * materialized like every other relation so the conflict probe costs one
    * scan — an incoming batch is an INPUT in production, not a per-query
    * re-derivation of the corpus. */
  def incomingBatch(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "incoming", None, "name") {
      import spark.implicits._
      objects(spark, dir).filter(col("size").between(10000, 10300))
        .select(col("bucket_id"), col("name"))
        .unionByName(Seq(("F", "zzz/brand-new.dat")).toDF("bucket_id", "name"))
    }

  /** `s3_multipart_uploads_parts` analog (FIXTURES.md §B): one part per
    * lineitem row, upload per order. */
  def multipartParts(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "parts", None, "upload_id") {
      lineitem(spark, dir).select(
        uniqCol.as("id"),
        concat(lit("upload-"), col("l_orderkey")).as("upload_id"),
        col("l_linenumber").as("part_number"),
        floor(col("l_extendedprice")).cast("long").as("size"),
        md5(concat(col("l_orderkey"), lit(":"), col("l_linenumber"))).as("etag"),
        col("l_shipdate").as("created_at"))
    }

  /** Co-purchase DIRECTED MULTI-edge relation (parts sharing an order; one
    * row per shared order and orientation, src ≠ dst, NOT deduped — kernels
    * that need simple-graph semantics dedup themselves). Every `graph_*`
    * query used to re-derive this 2.3M-row expansion per call (~2 s each at
    * sf0.1, r9 verdict item 3); it is a stored fixture of the corpus exactly
    * like the `objects` layout, so it materializes once per (sfDir, data
    * fingerprint). Pair expansion is ROW-LOCAL off one bounded-basket
    * groupBy — no lineitem self-join shuffle, which is what makes the
    * derivation itself 100 TB-safe when the cache is cold. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "copurchase_edges", None, "src") {
      lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, x -> transform(ps, y -> struct(x AS src, y AS dst))))"))
          .as("p"))
        .select(col("p.src"), col("p.dst"))
        .filter(col("src") =!= col("dst"))
    }

  /** INDEXED adjacency of the deduped co-purchase graph — (src, dst, idx,
    * deg) with idx = dst-sorted neighbor ordinal and deg = out-degree: the
    * CSR-style stored layout a graph engine keeps so that walk/sample
    * queries probe neighbors by (node, ordinal) without re-ranking the edge
    * list per query. Built once per (sfDir, fingerprint) like every other
    * layout fixture; the build's row_number window is per-src (keyed, never
    * global), so the one-time cost is shuffle-bounded at any scale. */
  def coPurchaseAdjacency(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "copurchase_adj", None, "src") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("dst"))
      coPurchaseEdges(spark, dir).dropDuplicates("src", "dst")
        .withColumn("idx", row_number().over(w).cast("long"))
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    }

  /** Co-purchase UNDIRECTED support-≥2 pair relation ((u, v), u < v, pairs
    * co-occurring in at least 2 orders, distinct) — the triangle/clustering
    * family's fixture, stored for the same reason as [[coPurchaseEdges]]. */
  def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "copurchase_pairs", None, "u") {
      lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, x -> transform(ps, y -> struct(x AS u, y AS v))))"))
          .as("p"))
        .select(col("p.u"), col("p.v")).filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("u"), col("v"))
    }
}

/** DuckDB twins of the synthesized relations above. Any query whose oracle SQL
  * uses `objects`/`s3_keys`/`parts` must prepend the matching CTE. Keep these
  * byte-for-byte in sync with [[Tables]] — the driver hash-compares results.
  */
object Oracle {
  /** Byte-identical twin of [[Tables.uniqCol]]/[[Tables.keyCol]]. */
  private val uniqSql =
    "substr(md5(concat_ws('|', l_orderkey, l_linenumber, l_suppkey, l_partkey, " +
      "CAST(floor(l_extendedprice) AS BIGINT), epoch_ms(l_shipdate), l_linestatus)), 1, 8)"

  private val keySql =
    s"""CASE WHEN l_linenumber = 1
       |      THEN concat(l_returnflag, '/', l_orderkey, '-', $uniqSql, '.dat')
       |      ELSE concat(l_returnflag, '/', l_orderkey, '/item-', l_linenumber, '-', $uniqSql, '.dat')
       |    END""".stripMargin

  val objectsCte: String =
    s"""objects AS (
      |  SELECT
      |    $keySql AS name,
      |    l_linestatus AS bucket_id,
      |    concat('user-', l_suppkey % 50) AS owner_id,
      |    CAST(floor(l_extendedprice) AS BIGINT) AS size,
      |    l_shipdate AS created_at,
      |    l_shipdate AS updated_at,
      |    md5(concat(l_orderkey, '-', l_linenumber)) AS version,
      |    CASE WHEN l_linenumber % 3 = 0 THEN 'image/png'
      |         WHEN l_linenumber % 3 = 1 THEN 'text/plain'
      |         ELSE 'application/json' END AS mimetype,
      |    CASE WHEN l_linenumber % 7 = 0 THEN NULL
      |         ELSE concat('{"tier":"',
      |            CASE WHEN l_partkey % 3 = 0 THEN 'gold'
      |                 WHEN l_partkey % 3 = 1 THEN 'silver' ELSE 'bronze' END,
      |            '","idx":', l_partkey % 100, '}') END AS user_metadata
      |  FROM lineitem
      |)""".stripMargin

  val s3KeysCte: String =
    s"""s3_keys AS (
      |  SELECT
      |    $keySql AS key,
      |    CAST(floor(l_extendedprice) AS BIGINT) AS size
      |  FROM lineitem WHERE l_linenumber <= 5
      |)""".stripMargin

  val partsCte: String =
    s"""parts AS (
      |  SELECT
      |    $uniqSql AS id,
      |    concat('upload-', l_orderkey) AS upload_id,
      |    l_linenumber AS part_number,
      |    CAST(floor(l_extendedprice) AS BIGINT) AS size,
      |    md5(concat(l_orderkey, ':', l_linenumber)) AS etag,
      |    l_shipdate AS created_at
      |  FROM lineitem
      |)""".stripMargin

  /** Byte-identical twin of [[Tables.buckets]]. */
  val bucketsCte: String = {
    val nameSql =
      """concat('bkt_', lower(n_name),
        |      CASE WHEN n_nationkey % 4 = 0 THEN '_100%'
        |           WHEN n_nationkey % 4 = 1 THEN '.media' ELSE '' END)""".stripMargin
    s"""buckets AS (
       |  SELECT
       |    $nameSql AS id,
       |    $nameSql AS name,
       |    concat('user-', n_nationkey % 50) AS owner_id,
       |    n_nationkey % 2 = 0 AS public,
       |    CAST(n_nationkey + 1 AS BIGINT) * 1048576 AS file_size_limit,
       |    TIMESTAMP '2020-01-01 00:00:00' + INTERVAL (n_nationkey) DAY AS created_at
       |  FROM nation
       |)""".stripMargin
  }

  def withObjects(sql: String): String = s"WITH $objectsCte\n$sql"
  def withS3(sql: String): String = s"WITH $objectsCte,\n$s3KeysCte\n$sql"
  def withParts(sql: String): String = s"WITH $partsCte\n$sql"
  def withBuckets(sql: String): String = s"WITH $bucketsCte\n$sql"
}
