package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Schema-pinned loaders for the driver-generated parquet tables.
  *
  * On a real cluster these would be catalog tables over partitioned
  * storage; here each is a single parquet file per scale factor.
  * Every load is a fresh parquet relation (fresh exprIds, full
  * pushdown/pruning freedom); no data is cached. What is cached is
  * the inferred parquet schema, because inference costs one Spark job
  * per `spark.read.parquet`: per session, per path and per value of
  * the session's parquet read confs, [[load]] keeps the schema and the
  * leaf files (path, length, mtime) it was inferred from, and a later
  * load reads with that schema. An entry is invalidated when the leaf
  * files of the later load's own listing differ (the path was
  * rewritten), and it dies with its session: the map holds sessions
  * weakly and its values never reference one. The mutable paths of
  * the streaming sinks and MergeTree tables do not go through
  * [[load]]; they stay plain `spark.read.parquet`.
  */
object Tables {
  /** Entries of Spark's generated-class cache (`spark.sql.codegen.cache
    * .maxEntries`, default 100), set by [[session]]. */
  val CodegenCacheEntries = 4096

  /** One local SparkSession shape for Verify/Bench/specs: UTC, AQE on,
    * shuffle partitions sized to cores (not the 200 default, which
    * would produce hundreds of near-empty partitions locally; on a
    * real cluster this would be ~2-4× total cores), the legacy nanos
    * flag so the `events` feed is readable (see [[Tables.events]]), and
    * a codegen cache of [[CodegenCacheEntries]] classes.
    *
    * Spark's generated-class cache is JVM-wide and keyed by source AND
    * context classloader. In local mode the driver thread and the
    * executor threads load through different classloaders, so every
    * whole-stage class is compiled twice: the 9-query benchmark suite
    * needs about 172 classes, and Spark's default of 100 entries
    * thrashes, recompiling about 146 classes on every warm pass. One
    * full 228-query pass in a fresh JVM compiles 3,011 distinct classes
    * (`graft.Bench` at sf0.01 with a 65,536-entry cache; it records the
    * count), so 4,096 entries hold the whole surface with 36% headroom.
    * The executor classloader belongs to the SparkContext, so a new
    * context recompiles its classes by design, and the old context's
    * entries age out of the LRU. The conf is static: it takes effect in
    * the session that first initializes Spark's code generator in a
    * JVM.
    *
    * The `file:` scheme resolves to [[graft.io.ForkFreeLocalFileSystem]]
    * and [[graft.io.ForkFreeLocalFs]] (Hive's service-loaded
    * `ProxyLocalFileSystem` otherwise). Without the native Hadoop
    * library, Hadoop's local file system forks `chmod` for every
    * permission it sets and `readlink` for every `FileContext` rename:
    * about 128 processes and as many reader threads per micro-batch of
    * the daemon pipeline (offset log, commit log, four state-store
    * deltas, checksums, the parquet committer's directories); a 17-batch
    * drain on a 4-core machine started 2,177 threads, and fewer than 40
    * with the fork-free classes (LocalFsSpec pins at most 5 per batch). The
    * fork-free classes answer both through `java.nio.file`; checksum
    * files, the atomic rename and Spark's choice of checkpoint manager
    * are unchanged. Hadoop's `FileSystem` cache is JVM-wide, so the
    * setting holds for a JVM whose first `file:` user is this session. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(graft.functions.GraftExtensions)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Idempotent persist for intra-suite reuse (the s20/s21 grid, e31's
    * day spine, q37/q40's month tables): marks the plan MEMORY_AND_DISK
    * unless the session's CacheManager already holds a CANONICALIZED
    * match — repeated calls (even with fresh exprIds) reuse the one
    * entry, and any later query whose plan CONTAINS the cached subtree
    * picks the blocks up automatically at planning time
    * (CacheManager.useCachedData), which is what replaces the r14
    * JVM-global WeakHashMap memo: that map's weak keys could never be
    * collected (the cached DataFrame strongly references its
    * SparkSession, i.e. the key), so entries for finished sessions
    * pinned persisted blocks forever. Here NOTHING outlives the
    * session — cache lifetime is the session's CacheManager, entries
    * are visible to `spark.catalog.clearCache()`, and a long-lived
    * session can evict per-table via `Dataset.unpersist`. */
  def persistOnce(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** `SPARK_GRAFT_CONF="k=v;k=v"` → session confs, for Verify's
    * conf-matrix runs and [[Probe]]: runtime-settable keys only.
    * Unset, it changes nothing. */
  def applyEnvConfs(s: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => s.conf.set(k, v)
        case _ =>
      }
    })

  /** Parquet load + timestamp normalization. Depending on driver data
    * generation, timestamp columns arrive either tz-adjusted (Spark
    * reads TIMESTAMP) or naive micros (Spark 4 infers TIMESTAMP_NTZ,
    * which `unix_micros`/interval arithmetic reject). Sessions run in
    * UTC, where the NTZ→TIMESTAMP cast is value-identity, so all
    * downstream code sees one type regardless of the file's flavor.
    * The cast is a per-column map-side no-op (same physical micros). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.dataType == TimestampNTZType =>
        acc.withColumn(f.name, acc.col(f.name).cast(TimestampType))
      case (acc, _) => acc
    }
  }

  /** An inferred schema and the leaf files (path, length, mtime) it was
    * inferred from. Holds no reference to its session. */
  private final case class SchemaEntry(schema: StructType, files: Seq[(String, Long, Long)])

  private type SchemaKey = (String, Map[String, String])

  /** Per-session schema entries, keyed by path and the session's parquet
    * read confs (they change what inference returns). Sessions are held
    * weakly, so an ended session's entries go with it. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, SchemaEntry]]()

  private def schemaCache(spark: SparkSession): ConcurrentHashMap[SchemaKey, SchemaEntry] =
    schemas.synchronized(schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))

  /** Leaf files of a parquet read, from the listing the read already
    * made; None for a plan that is not a plain file relation. */
  private def leafFiles(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    Some(df.queryExecution.analyzed)
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case idx: PartitioningAwareFileIndex =>
        idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      }

  /** `spark.read.parquet(path)`, with the schema inference job skipped
    * when this session already inferred the schema of the same files
    * (see the [[Tables]] doc). */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val cache = schemaCache(spark)
    val key: SchemaKey = (path, spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    })
    val hit = Option(cache.get(key)).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(path)
      if (leafFiles(df).contains(e.files)) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      leafFiles(df).foreach(files => cache.put(key, SchemaEntry(df.schema, files)))
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events feed carries TIMESTAMP(NANOS) parquet, which Spark 4
    * rejects outright. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[session]]) so
    * the column arrives as int64 nanos; integer-divide to micros
    * (truncation — exactly DuckDB's ns→us conversion) and rebuild the
    * timestamp. Both steps are per-row codegen'd expressions. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Oracle-parity helpers.
  *
  * The driver hash-compares our results against DuckDB. Double
  * summation is order-dependent, so any `sum(double)` can differ in
  * the last ulp between engines. All source measures carry exactly
  * two decimals, so casting to DECIMAL(18,2) is lossless; decimal
  * aggregation is exact and order-independent in both engines; the
  * final cast back to double is deterministic. Averages are expressed
  * as exact-decimal-sum / count in double (single IEEE division —
  * identical everywhere).
  */
object Exact {
  /** Lossless 2-decimal measure → exact decimal. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact order-independent sum of a 2-decimal double, as double. */
  def dsum(c: Column): Column =
    org.apache.spark.sql.functions.sum(dec(c)).cast("double")
  /** Exact average of a 2-decimal double, as double. */
  def davg(c: Column): Column = {
    import org.apache.spark.sql.functions._
    (sum(dec(c)).cast("double") / count(lit(1)))
  }
}
