package graft

import org.apache.spark.sql.SparkSession

/** The one source of session confs for every graft entry point: Bench,
  * Verify, Profile and the test session (`SparkSpec`) all start from
  * `builder(cpus)` and differ only in core count and log level, so the
  * specs run the same serializer and shuffle-writer path that Bench
  * measures.
  *
  * `perfbench/src/main/scala/perfbench/Main.scala` builds its session
  * from its own copy of these confs (the benchmark package is kept
  * separate); keep the two in step.
  */
object GraftSession {

  /** Confs independent of the core count, with the reason for each. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.ts is ns-precision parquet: read it as a long, normalized in
    // Tables.events (Spark 4 errors on TIMESTAMP(NANOS) otherwise).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Force the sort-based shuffle writer. Below the 200-partition bypass
    // threshold every exchange without map-side combine takes the
    // BypassMergeSortShuffleWriter: one file per (map task × reduce
    // partition), so thousands of file creates and unlinks per exchange
    // and executor threads serialized in FileOutputStream.open0. A real
    // cluster runs far more than 200 shuffle partitions and always takes
    // the sort-based writer (one data + one index file per map task);
    // this makes a local session exercise that same path, and it
    // measured ~10% faster on the full registry.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    // Kryo for the JVM-object serializer, the Spark tuning guide's
    // standing production recommendation. SQL shuffle rows are Tungsten
    // UnsafeRows either way; this covers broadcast payloads,
    // checkpoint/cache block spill and task results (~4% on the full
    // registry).
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    // The generated-class cache defaults to 100 entries, sized for a
    // memory-tight driver, not a 146-query registry: each query holds
    // several codegen units, so one pass cycles the cache several times
    // and every pass recompiles every query's generated code (janino,
    // driver-side, 10-100 ms per unit). Static conf: it only takes
    // effect in the first session of the JVM (see Bench's require).
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  /** `local[cpus]` with shuffle partitions = cpus and [[confs]]. The
    * builder is returned unbuilt so a caller can add confs before
    * `getOrCreate`. */
  def builder(cpus: Int): SparkSession.Builder =
    confs.foldLeft(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
