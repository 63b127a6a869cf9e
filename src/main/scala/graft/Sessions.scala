package graft

import org.apache.spark.sql.SparkSession

/** One session shape for every graft main (and the driver contract):
  * local[N] with N = SPARK_GRAFT_CPUS (default: all cores), shuffle
  * partitions = N (not Spark's 200 —
  * at local scale 200 partitions is pure scheduling overhead; on a
  * real cluster this knob is sized to executor count × cores),
  * UTC session time, nanos-as-long for the events table, and the
  * graft extensions (native functions) installed. */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def build(appName: String): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // harness parquet writes isAdjustedToUTC=false µs timestamps;
      // read them as plain TIMESTAMP (UTC session) rather than NTZ so
      // unix_micros / interval arithmetic / window frames all resolve
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the generated-class cache defaults to 100 entries; a warm
      // catalog pass runs ~2400 whole-stage compilations, so a smaller
      // cache recompiles what it evicted (Janino, ~50-200 ms each) —
      // the dominant source of run-to-run jitter on small-SF benches.
      // 2000 is still below that working set, so LRU cycles it too;
      // 20000 cut a warm pass to ~300 compilations in one probe
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // saveAsTable (bucketed layouts) must not litter the launch dir;
      // RAM-backed when available — warehouse tables written by the
      // catalog are query-local scratch, so disk fsyncs are overhead
      // (a production deployment points this at durable storage)
      .config("spark.sql.warehouse.dir",
        graft.sources.LocalFs.scratchDir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      // partition-dir listing: the default threshold (32 dirs) launches
      // a DISTRIBUTED listing job for every read of a partitioned
      // target with more dirs — at local scale each such job is ~0.2 s
      // of pure scheduling for a listing the driver does in microseconds
      // on a local fs. 1024 keeps driver-side listing for everything
      // this harness reads; a deployment against a slow object store
      // with tens of thousands of partitions lowers it back via
      // SPARK_GRAFT_EXTRA_CONF (parallel listing exists for exactly
      // that regime).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // shuffle/scratch block files: thread-dump profiling (r15) showed
      // task wall-time concentrated in DiskBlockObjectWriter.initialize
      // / createTempShuffleBlock — file CREATION latency on the
      // disk-backed default /tmp, which on this virtualized box is
      // erratically slow (10–50× stalls measured on merge entries with
      // zero iowait and idle CPU). Local-mode shuffle blocks are
      // query-lifetime scratch, exactly the LocalFs.scratchDir policy:
      // prefer the RAM-backed fs. Decade probes whose shuffle exceeds
      // RAM override this with SPARK_GRAFT_EXTRA_CONF
      // spark.local.dir=/tmp (the sf100 sweep script does); a real
      // cluster sizes executor local disks instead and never sets this.
      .config("spark.local.dir",
        if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
          "/dev/shm/graft-local" else System.getProperty("java.io.tmpdir"))
      // broadcast exchanges collect through the driver and count
      // against maxResultSize; the synthetic decade's 15M-entity dim
      // serializes just past the 1g default (measured: 1055 MiB at
      // sf100). 4g keeps O(entities) broadcasts viable on the 96g
      // driver the sf100 runs used; a cluster sizes this with driver RAM
      .config("spark.driver.maxResultSize", "4g")
    // probe-side conf overrides (SPARK_GRAFT_EXTRA_CONF="k=v,k=v"):
    // decade probes on a scratch-bounded box need e.g.
    // spark.cleaner.periodicGC.interval=15s so dead shuffle files from
    // a multi-action entry drain DURING the entry instead of at the
    // default 30-minute tick (ENOSPC measured without it — SCALE.md);
    // production clusters size scratch instead and never set this.
    val withExtra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.contains("="))
      .foldLeft(builder) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      }
    val spark = withExtra.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
