package graft.operators

import graft.sources.{ManifestStore, SwapFs}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** MERGE-emulation upsert without a table format (SURVEY.md §2.3 J3,
  * §7.4 risk #1; reference MERGE at
  * /root/reference/sql/02_load_data.sql:78-165).
  *
  * Logical form: `target ANTI JOIN source ∪ source` — matched keys
  * take the source row wholesale (reference updates every column on
  * match), unmatched target rows survive, new keys insert. Re-running
  * with the same source is idempotent.
  *
  * Physical form for parquet directories: write the merged result to
  * a temp sibling path, then atomically swap directories — never read
  * and overwrite the same location in one job (Spark would corrupt
  * the input it is still scanning). All filesystem operations go
  * through the Hadoop `FileSystem` API ([[graft.sources.SwapFs]]), so
  * the same code runs on `file:`, HDFS, and object stores; the
  * atomic-rename caveat for flat object stores is documented there.
  *
  * Single-writer fencing: every path-mutating entry point runs inside
  * [[SwapFs.withLease]] — a second concurrent merge against the same
  * target fails loudly instead of interleaving swap renames with the
  * first (which could destroy the `.old-*` recovery copies both crash
  * protocols depend on). A lease older than the stale threshold is
  * presumed abandoned and taken over with a warning.
  *
  * Scale: the anti-join shuffles both sides by key once (or broadcasts
  * the source batch when it is small — the common incremental case,
  * which Catalyst/AQE picks automatically); unmatched target rows are
  * NOT rewritten row-by-row anywhere except the final write, which is
  * unavoidable without a transactional format's file-level rewrite.
  */
object Upsert {

  /** Pure-frame upsert: rows in `source` replace same-key rows in
    * `target`; all other target rows pass through. */
  def upsertBatch(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.join(source, keys, "left_anti").unionByName(source)

  /** Cluster `df` by the partition column before a `partitionBy` write
    * (guide §6: output file sizing). Without it every writer task
    * holds rows of every partition value, so one merge write lands
    * O(shuffle-width × partitions) tiny files — measured ~1,300 files
    * per merge at sf0.1 (32-wide dedupe × ~40 dates), and every later
    * consultation of the target pays the listing + footer reads. The
    * AQE REBALANCE hint shuffles by the partition value AND lets AQE
    * coalesce small partitions / split skewed ones
    * (`optimizeSkewsInRebalancePartitions`, on by default), so file
    * count is O(partitions) at sf0.1 while a 100 TB hot partition
    * still fans out across tasks instead of funnelling into one
    * writer. Results are row-identical — only physical layout moves. */
  private def clusterByPart(df: DataFrame, partCol: String): DataFrame =
    df.hint("rebalance", col(partCol))

  /** Phase timer for the merge paths, dormant unless
    * SPARK_GRAFT_MERGE_TIMING=1 — per-phase wall-clock to stderr, the
    * measurement tool behind the fixed-latency accounting in SCALE.md. */
  private val mergeTiming = sys.env.get("SPARK_GRAFT_MERGE_TIMING").contains("1")
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
  private def timed[T](label: String)(f: => T): T =
    if (!mergeTiming) f
    else {
      val t0 = System.nanoTime(); val g0 = gcMillis
      val r = f
      System.err.println(f"MERGE-PHASE $label%-18s ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
        f"  gc=${(gcMillis - g0) / 1e3}%5.2f s  end=${System.currentTimeMillis() / 1000}")
      r
    }

  /** Dormant plan dump (SPARK_GRAFT_MERGE_EXPLAIN=1): the gates return
    * a settled local rollup whose top-level plan is a LocalTableScan,
    * so the evidential plan for the plans/ deliverable is the INNER
    * merged-write frame's — printed here to stderr before the write. */
  private val mergeExplain = sys.env.get("SPARK_GRAFT_MERGE_EXPLAIN").contains("1")
  private def explained(label: String, df: DataFrame): DataFrame = {
    if (mergeExplain) {
      System.err.println(s"MERGE-PLAN $label >>>")
      System.err.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      System.err.println(s"<<< MERGE-PLAN $label")
    }
    df
  }

  /** Keyed upsert into a parquet directory via rename-based swap:
    * write merged → tmp, rename target → .old (atomic on
    * rename-capable filesystems), rename tmp → target, drop .old. No
    * crash window loses data — at worst the previous state survives
    * at `.old-merge` and is restored on the next call. Creates the
    * target on first use. Fenced by a single-writer lease (sibling
    * `.lock-merge` file). Returns the merged row count. */
  def mergeIntoPath(spark: SparkSession, targetPath: String,
      source: DataFrame, keys: Seq[String],
      leaseStaleMs: Long = SwapFs.DefaultLeaseStaleMs): Long = {
    val io = SwapFs.forPath(spark, targetPath)
    io.withLease(targetPath, leaseStaleMs) {
      val tgt = io.path(targetPath)
      val tmp = io.path(targetPath + ".tmp-merge")
      val old = io.path(targetPath + ".old-merge")
      // crash recovery: a surviving .old means a prior run died
      // mid-swap — restore (or drop) it before merging
      io.recoverSwap(tgt, old)
      val merged =
        if (io.exists(tgt)) upsertBatch(spark.read.parquet(targetPath), source, keys)
        else source
      io.delete(tmp)
      // row count via observe metrics on the write job itself — a
      // re-read-and-count would scan the whole merged output a second
      // time, which at scale doubles the cost of every merge
      val obs = Observation()
      merged.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(tmp.toString)
      val n = obs.get("n").asInstanceOf[Long]
      io.swapIn(tmp, tgt, old)
      n
    }
  }

  /** PARTITION-SCOPED MERGE into a hive-partitioned parquet layout —
    * the incremental form [[mergeIntoPath]] cannot give (it rewrites
    * the WHOLE target every batch, documented): only partitions that
    * can change are rewritten. This is the one partition-scoped MERGE
    * protocol ([[mergeScoped]]) with the IN-PLACE commit: merged
    * partitions swap into the target by directory rename
    * ([[mergePartitionedManifest]] is the same protocol with a
    * manifest commit). Affected set = partitions holding source rows
    * ∪ target partitions holding MATCHED keys, answered by a key index
    * (`_keyidx` inside the target — [[KeyIdx]]): per-partition min/max
    * meta rows for every key column, plus a RECORD-LEVEL `(key-hash,
    * partition)` side kept as per-merge chunks and compacted into a
    * hash-bucketed base. The batch's key ranges and hashes are tested
    * against it; only when the index cannot answer exactly (missing
    * or invalid, a batch past [[KeyIdx.BatchProbeMax]] keys, a torn
    * record base) does a column-pruned semi probe of the index's
    * range candidates find the matched partitions. Untouched
    * partitions' files are never rewritten (byte-identical after the
    * merge — UpsertSpec pins this), so a date-partitioned 100 TB fact
    * pays O(touched partitions) per batch, not O(target).
    *
    * Range intersection bounds the answer for range-clustered keys
    * (sequential ids, dates); the record lookup bounds it for
    * HASH-DISTRIBUTED keys — the reference's own surrogate-key type
    * (sha256 `observation_sk`,
    * /root/reference/sql/02_load_data.sql:86-91), where every
    * partition's [min,max] spans the whole key space and range
    * pruning alone degrades to the full O(target) scan. With the
    * record index, a batch touching one partition of a 100 TB fact
    * reads one partition's data whichever key shape it has — at ANY
    * per-partition cardinality (the r14 Bloom sidecars saturated past
    * ~200k tuples/partition and silently restored the O(target)
    * probe); the lookup itself reads O(batch) bucket files, not
    * O(partitions) (UpsertSpec pins this with scan-metric accounting
    * for BOTH key shapes and at beyond-Bloom-cap cardinality;
    * ProbeScaling measures both curves flat in the untouched-partition
    * count). A key-hash collision only adds a partition, rewritten
    * unchanged.
    *
    * Index soundness is crash-first: a `_PENDING` marker is created
    * inside the index before any data-directory swap and removed only
    * after the post-swap index rewrite — any crash in between leaves
    * the marker, and a marked (or missing, malformed, differently
    * keyed/typed — the index carries a binding signature of partCol,
    * key names, key types) index degrades to the full-scan probe and
    * is rebuilt in the same merge. Index rows for rewritten
    * partitions are recomputed EXACTLY from the just-written data
    * (never widened), so pruning power does not decay under
    * key-churn; untouched partitions keep their rows byte-identical.
    * External writers that bypass this method must drop `_keyidx`
    * ([[graft.sources.LayerWriter.overwriteBatchPartitions]] does).
    *
    * Semantics are identical to [[mergeIntoPath]]: matched keys take
    * the source row wholesale — INCLUDING a changed partition value
    * (the old row's partition holds a matched key, so it is in the
    * affected set and the row MOVES; a scoped-to-source-partitions-only
    * design would leave a stale duplicate behind). A partition whose
    * rows ALL move away is deleted. Affected partition values are a
    * bounded driver fetch capped at `maxPartitions` (loud failure —
    * a batch touching more partitions than that should take the full
    * [[mergeIntoPath]] path instead). Physical form: merged affected
    * partitions land in a temp sibling, then swap per-partition-
    * directory (atomic renames on rename-capable filesystems). A
    * crash mid-swap leaves each partition either old or new, never
    * mixed; re-running the same merge is idempotent and heals —
    * EXPLICITLY: entry first restores any `*.old-pmerge` leftover
    * whose live directory is missing (and drops leftovers whose
    * install completed), so crashed-partition rows rejoin the target
    * (the `_PENDING` marker guarantees no index pruning can run until
    * the index is rebuilt; UpsertSpec pins both windows, and
    * CrashMatrixSpec crashes the protocol at every filesystem
    * mutation). Fenced by a single-writer lease. Creates the target
    * (full partitioned write) on first use. Partition values compare in CAST-to-string space,
    * matching Spark's own partition-path rendering for
    * string/date/integral columns. Returns the merged row count over
    * the AFFECTED partitions. */
  def mergePartitionedPath(spark: SparkSession, targetPath: String,
      source: DataFrame, keys: Seq[String], partCol: String,
      maxPartitions: Int = 4096,
      leaseStaleMs: Long = SwapFs.DefaultLeaseStaleMs): Long =
    mergeScoped(new Commit(spark, targetPath, partCol) with InPlace,
      source, keys, maxPartitions, leaseStaleMs)

  /** The partition-scoped MERGE protocol ([[mergeScoped]]) with the
    * MANIFEST commit — the flat-object-store form of
    * [[mergePartitionedPath]] ([[graft.sources.ManifestStore]] for the
    * commit protocol and why it exists). Identical MERGE semantics,
    * affected-set answer (the same `_keyidx`, validated against the
    * manifest's live-partition list instead of directory names),
    * partition budget, fencing, and row-count return; different
    * physical install: affected partitions land in a fresh generation
    * directory and become visible through ONE manifest-file commit,
    * so a reader ([[readManifest]]) sees exactly the pre-merge or
    * post-merge table even where directory renames are torn
    * copy+delete. Referenced directories are never mutated;
    * superseded generations are garbage-collected after the next
    * commit. Opt-in per target: a target created by this method must
    * always be merged by it (both modes guard against mixing). */
  def mergePartitionedManifest(spark: SparkSession, targetPath: String,
      source: DataFrame, keys: Seq[String], partCol: String,
      maxPartitions: Int = 4096,
      leaseStaleMs: Long = SwapFs.DefaultLeaseStaleMs): Long =
    mergeScoped(new Commit(spark, targetPath, partCol) with Manifest,
      source, keys, maxPartitions, leaseStaleMs)

  /** Resolve a manifest-committed target to a DataFrame: the highest
    * committed generation's live partitions, partition column
    * reconstructed from the directory names. Loud failure on a
    * non-manifest target. */
  def readManifest(spark: SparkSession, targetPath: String): DataFrame = {
    val io = SwapFs.forPath(spark, targetPath)
    val state = ManifestStore.read(io, targetPath).getOrElse(
      sys.error(s"readManifest: $targetPath has no committed manifest — not a manifest target " +
        "(plain partitioned layouts read directly with spark.read.parquet)"))
    manifestFrame(spark, targetPath, state)
  }

  private def manifestFrame(spark: SparkSession, targetPath: String,
      state: ManifestStore.State): DataFrame = {
    // one read per generation group (basePath recovers the partition
    // column from the directory names). Only the first group's schema
    // is inferred and every other group is read with it: no further
    // inference job, one set of types. The first group is the newest
    // holding a non-null partition value — a null-only group infers the
    // partition column as VOID, which would null every other group's
    // values. NUMERIC generation order ('_g10' sorts after '_g2')
    val nullOnly = (rels: Iterable[String]) =>
      rels.forall(_.endsWith("=" + ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
    val byGen = state.parts.values.groupBy(_.takeWhile(_ != '/')).toSeq
      .sortBy { case (gen, rels) => (nullOnly(rels), -gen.drop(2).toLong) }
    def read(r: DataFrameReader, gen: String, rels: Iterable[String]): DataFrame =
      r.option("basePath", s"$targetPath/$gen").parquet(rels.map(r => s"$targetPath/$r").toSeq: _*)
    val head = read(spark.read, byGen.head._1, byGen.head._2)
    byGen.tail.foldLeft(head) { case (acc, (gen, rels)) =>
      acc.unionByName(read(spark.read.schema(head.schema), gen, rels))
    }
  }

  /** Run `a` on a thread started for this call and `b` on the
    * caller's, concurrently. A new thread copies the caller's Spark
    * local properties (job group, description, tags) when it is
    * created, so `a`'s jobs carry the caller's current group; a pooled
    * thread (`ExecutionContext.global`) keeps the copy it took when the
    * pool grew, and `sc.cancelJobGroup` would miss its jobs. */
  private[operators] def overlapped[A, B](a: => A)(b: => B): (A, B) = {
    var ra: scala.util.Try[A] = null // published to this thread by the join
    val t = new Thread(() =>
      ra = try scala.util.Success(a) catch { case e: Throwable => scala.util.Failure(e) })
    t.start()
    val rb = try b finally t.join()
    (ra.get, rb)
  }

  /** ONE bounded job fetching the batch's distinct partition values
    * (canonical, [[KeyIdx.NullPart]] for null) AND its global key
    * bounds: a rollup over the partition value whose grand-total row
    * (`grouping_id()` 1) carries each key's min and max over the whole
    * batch (`bmin_<k>`/`bmax_<k>`). Bounded driver fetch: a batch
    * accidentally keyed on a high-cardinality partition column must
    * not materialize every distinct value before the caller's loud
    * budget failure fires. When the limit cuts, at least
    * maxPartitions + 1 partition rows came back, so no bounds row means
    * an empty batch or one already over budget. */
  private def srcPartsAndBounds(srcPK: DataFrame, keys: Seq[String], maxPartitions: Int)
      : (Set[String], Option[Row]) = {
    val aggs = keys.flatMap(k => Seq(min(col(k)).as(s"bmin_$k"), max(col(k)).as(s"bmax_$k"))) :+
      (grouping_id() === 1).as("__total")
    val rows = timed("srcparts")(srcPK.rollup(col("__graft_p")).agg(aggs.head, aggs.tail: _*)
      .limit(maxPartitions + 2).collect())
    val (total, perPart) = rows.partition(_.getAs[Boolean]("__total"))
    (perPart.map(r => if (r.isNullAt(0)) KeyIdx.NullPart else r.getString(0)).toSet,
      total.headOption)
  }

  /** One merge call's target, plus what the two commit strategies of
    * the one partition-scoped MERGE protocol ([[mergeScoped]]) do
    * differently — mixed in as [[InPlace]] or [[Manifest]]; everything
    * else is shared. Building one touches no file. */
  private sealed abstract class Commit(val spark: SparkSession, val targetPath: String,
      val partCol: String) {
    val io: SwapFs = SwapFs.forPath(spark, targetPath)
    val prefix = s"$partCol="
    val tgt: HPath = io.path(targetPath)
    /** API name, plan label and advice for an over-budget batch. */
    def api: String; def tag: String; def overBudget: String
    /** Layout guard, then the crash recovery that must run before
      * anything reads the target: its live frame and partition
      * directory names, or None on first use. */
    def open(): Option[(DataFrame, Set[String])]
    /** Run the first write (given its directory), commit it, and read
      * the written rows back with `schema`. */
    def writeFirst(write: String => Unit, schema: StructType): DataFrame
    /** Install the merged partition directories `written` from `tmp`,
      * drop the `emptied` ones; returns the new live names. */
    def install(tmp: HPath, written: Set[String], emptied: Set[String]): Set[String]
    /** The committed target, for a full index rebuild. */
    def committed(tmpSchema: StructType): DataFrame
    def cleanup(): Unit = ()
  }

  /** In-place commit: each merged partition directory swaps into the
    * target by rename (`d=X` → `d=X.old-pmerge`, tmp → `d=X`). */
  private trait InPlace extends Commit {
    def api = "mergePartitionedPath"; def tag = "pmerge"
    def overBudget = "use mergeIntoPath (full rewrite) for rewrite-everything batches"

    def open(): Option[(DataFrame, Set[String])] = {
      require(ManifestStore.generations(io, targetPath).isEmpty,
        s"mergePartitionedPath: $targetPath is manifest-committed — use mergePartitionedManifest " +
          "(mixing in-place swaps into a manifest target would mutate referenced directories)")
      io.recoverSwap(tgt, io.path(targetPath + ".old-merge"))
      if (!io.exists(tgt)) return None
      // crash recovery BEFORE anything reads the target: restore or
      // drop each partition's swap leftover `d=X.old-pmerge`
      // ([[SwapFs.recoverSwap]]). The prior run's `_PENDING` marker is
      // still in place (it is only removed after a completed post-swap
      // index rewrite), so no stale index row can leave the restored
      // rows out of the affected set.
      for (name <- io.listDirNames(tgt) if name.endsWith(".old-pmerge"))
        io.recoverSwap(new HPath(tgt, name.stripSuffix(".old-pmerge")), new HPath(tgt, name))
      Some((spark.read.parquet(targetPath), io.listDirNames(tgt)))
    }

    def writeFirst(write: String => Unit, schema: StructType): DataFrame = {
      write(targetPath); committed(schema)
    }

    def install(tmp: HPath, written: Set[String], emptied: Set[String]): Set[String] = {
      for (name <- written)
        io.swapIn(new HPath(tmp, name), new HPath(tgt, name), new HPath(tgt, name + ".old-pmerge"))
      for (name <- emptied) io.delete(new HPath(tgt, name))
      io.listDirNames(tgt)
    }

    def committed(tmpSchema: StructType): DataFrame =
      spark.read.schema(tmpSchema).parquet(targetPath)
  }

  /** Manifest commit: merged partition directories move into a fresh
    * generation `_g<n+1>`, visible through one manifest file. */
  private trait Manifest extends Commit {
    def api = "mergePartitionedManifest"; def tag = "mmerge"
    def overBudget = "rewrite into a fresh generation wholesale instead"
    private var state = ManifestStore.State(0L, Map.empty)

    def open(): Option[(DataFrame, Set[String])] = {
      require(!io.listDirNames(tgt).exists(_.startsWith(prefix)),
        s"mergePartitionedManifest: $targetPath holds an in-place partitioned layout — " +
          "use mergePartitionedPath, or migrate by rewriting into a fresh manifest target")
      ManifestStore.read(io, targetPath).map { st =>
        state = st
        (timed("mframe")(manifestFrame(spark, targetPath, st)), st.parts.keySet)
      }
    }

    def writeFirst(write: String => Unit, schema: StructType): DataFrame = {
      val gen0 = s"$targetPath/_g0"
      io.delete(io.path(gen0)) // stale leftover from a crashed first write
      write(gen0)
      val parts = io.listDirNames(io.path(gen0)).filter(_.startsWith(prefix))
      ManifestStore.commit(io, targetPath,
        ManifestStore.State(0L, parts.map(n => n -> s"_g0/$n").toMap))
      // by partition directory: Spark ignores (with a warning) a read of
      // the `_`-prefixed gen0 itself
      val r = spark.read.schema(schema).option("basePath", gen0)
      if (parts.isEmpty) r.parquet(gen0) else r.parquet(parts.map(n => s"$gen0/$n").toSeq: _*)
    }

    def install(tmp: HPath, written: Set[String], emptied: Set[String]): Set[String] = {
      // install into a FRESH generation: these renames move just-written
      // unreferenced data — a torn copy here is invisible (nothing
      // resolves through it until the manifest commits below)
      val newGen = state.gen + 1
      val genDir = io.path(s"$targetPath/_g$newGen")
      io.delete(genDir) // stale leftover from a crashed attempt at this generation
      io.fs.mkdirs(genDir)
      for (name <- written)
        io.rename(new HPath(tmp, name), new HPath(genDir, name))
      state = ManifestStore.State(newGen,
        (state.parts -- emptied -- written) ++ written.map(nm => nm -> s"_g$newGen/$nm"))
      // THE commit: one manifest file; before it readers resolve the old
      // table, after it the new one — never a mix
      ManifestStore.commit(io, targetPath, state)
      state.parts.keySet
    }

    def committed(tmpSchema: StructType): DataFrame = manifestFrame(spark, targetPath, state)

    override def cleanup(): Unit = timed("gc")(ManifestStore.gc(io, targetPath))
  }

  /** The one partition-scoped MERGE protocol behind
    * [[mergePartitionedPath]] and [[mergePartitionedManifest]]: fence,
    * open the target through the commit strategy, then either write it
    * for the first time or merge the batch into it ([[mergeLive]]). */
  private def mergeScoped(commit: Commit, source: DataFrame, keys: Seq[String],
      maxPartitions: Int, leaseStaleMs: Long): Long = {
    import commit.{spark, io, targetPath, partCol}
    require(!keys.contains(partCol),
      s"${commit.api}: partition column $partCol cannot also be a merge key")
    io.withLease(targetPath, leaseStaleMs) {
      commit.open() match {
        case Some((target, liveNames)) =>
          mergeLive(commit, target, liveNames, source, keys, maxPartitions)
        case None =>
          val obs0 = Observation()
          val written = commit.writeFirst(clusterByPart(
            source.observe(obs0, count(lit(1)).as("n")), partCol)
            .write.mode("overwrite").partitionBy(partCol).parquet(_), stringPart(source.schema, partCol))
          // index from the WRITTEN layout, not a second execution of the
          // caller's source plan (which may be an arbitrarily expensive
          // upstream job): a column-pruned read-back of the fresh parquet
          // yields the same per-partition stats for one metadata-cheap
          // scan — the merge path's own tmp-read pattern
          KeyIdx.rebuild(spark, io, targetPath, written, partCol, keys)
          obs0.get("n").asInstanceOf[Long]
      }
    }
  }

  /** `schema` with the partition column as read back from directory
    * names (string). */
  private def stringPart(schema: StructType, partCol: String): StructType =
    StructType(schema.map(f => if (f.name == partCol) f.copy(dataType = StringType) else f))

  private def mergeLive(commit: Commit, target: DataFrame, liveNames: Set[String],
      source: DataFrame, keys: Seq[String], maxPartitions: Int): Long = {
    import commit.{spark, io, targetPath, partCol, prefix}
    // The source batch is consulted by several jobs per merge (bounds
    // rollup, key-hash fetch, both sides of the merged write — and the
    // caller's plan behind it is often a full dedupe over an upstream
    // fact). Persist the BATCH (O(batch) rows; MEMORY_AND_DISK spills,
    // never OOMs) so that plan executes once per merge.
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Thin (partition, keys) projection of the persisted batch. NO
    // distinct / persist of its own (the r14 form paid a full shuffle
    // to dedupe it): every consumer — the bounds rollup, the hash
    // fetch (distinct inside), the fallback semi join — is duplicate-
    // insensitive, so the projection just narrows the cached batch.
    val srcPK = src.select(col(partCol).cast("string").as("__graft_p") +: keys.map(col): _*)
    var mergedCached: Option[DataFrame] = None
    try {
    val srcKeys = srcPK.select(keys.map(col): _*)
    // the bounds fetch (source cache) and the index meta read overlap
    // (guide §2.6), so their phase prints are not additive
    val ((srcParts, bounds), validIdx) = overlapped(
      srcPartsAndBounds(srcPK, keys, maxPartitions))(
      timed("readValid")(KeyIdx.readValid(spark, io, targetPath, target.schema,
        liveNames, prefix, partCol, keys)))
    // no rows, no change (and a write of nothing observes no row count)
    if (srcParts.isEmpty) return 0L
    def inParts(ps: Set[String]): Column = { // canonical partition values
      val in = col(partCol).cast("string").isin(ps.filterNot(_ == KeyIdx.NullPart).toSeq.sorted: _*)
      if (ps(KeyIdx.NullPart)) in || col(partCol).isNull else in
    }
    // the validated index answers which target partitions hold a batch
    // key, O(touched) I/O; only when it cannot answer exactly does a
    // semi probe of its candidates (or of the whole target) find them
    val cand = validIdx.map(idx => timed("candidates")(KeyIdx.candidates(spark, io,
      targetPath, idx, srcKeys, bounds, srcParts, target.schema, keys)))
    val hits = cand match {
      case Some((ps, true)) => ps
      case _ =>
        val probed = cand.fold(target) { case (ps, _) => target.filter(inParts(ps.toSet)) }
        timed("affected")(probed.join(srcKeys, keys, "left_semi")
          .select(KeyIdx.canonicalP(partCol)).distinct()
          .limit(maxPartitions + 1).collect()).map(_.getString(0)).toSeq
    }
    val affected = srcParts ++ hits
    require(affected.size <= maxPartitions,
      s"${commit.api}: batch touches more than $maxPartitions partitions " +
        s"of $targetPath — ${commit.overBudget}")
    val scoped = target.filter(inParts(affected))
    // When a valid index will be staged below, persist the merged
    // frame: the stage's two jobs (meta stats + record rows) then
    // scan the cache the write job populates instead of re-reading
    // the just-written tmp parquet (guide §1.2 step 1) — measured
    // best-of-3 at sf0.1: ~1 s/gate faster than the tmp re-read form.
    // MEMORY_AND_DISK, unpersisted in the finally; at incremental
    // scale merged is O(touched partitions) ≈ O(batch).
    val merged0 = upsertBatch(scoped, src, keys)
    mergedCached = validIdx.map(_ =>
      merged0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val merged = mergedCached.getOrElse(merged0)
    val tmp = io.path(targetPath + ".tmp-pmerge")
    io.delete(tmp)
    val obs = Observation()
    timed("write")(explained(s"${commit.tag}-write",
      clusterByPart(merged.observe(obs, count(lit(1)).as("n")), partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString))
    val n = obs.get("n").asInstanceOf[Long]
    // EXACT index rows for the affected partitions, computed from the
    // persisted merged frame (row-identical to the just-written tmp;
    // stats/records canonicalize the partition value to the same
    // CAST-to-string space the tmp read-back yielded) BEFORE the
    // install moves its directories, staged in the index's own temp
    // sibling. Exact — never widened — so pruning power does not decay
    // under key churn (the r13 design widened old∪new and only ever
    // grew; this rewrite replaces it, with the `_PENDING` marker
    // carrying crash soundness instead of over-inclusion).
    val staged = validIdx.map { idx =>
      timed("stage-idx")(KeyIdx.stage(spark, io, targetPath,
        merged, partCol, keys, target.schema, idx.nextVer))
    }
    // marker BEFORE the first live-directory mutation; removed only
    // after the post-install index rewrite completes. Any crash between
    // leaves the marker and the next merge full-probes and rebuilds —
    // the index can never be trusted against data it wasn't written
    // for, whichever side of a torn install the layout landed on.
    KeyIdx.markPending(io, targetPath)
    val written = io.listDirNames(tmp).filter(_.startsWith(prefix))
    // an affected partition ABSENT from the merged output lost every
    // row (all its keys moved to other partitions) — the install drops
    // it, or the stale rows would duplicate their moved selves
    val affectedNames = affected.map(v => prefix + ExternalCatalogUtils.escapePathName(v))
    val newLive = commit.install(tmp, written, affectedNames -- written)
    // post-install index rewrite: install the staged exact rows (and
    // drop rows for deleted partitions), or rebuild from scratch when
    // the pre-merge index was missing/invalid (one-time backfill, same
    // cost class as the full probe this merge just paid)
    timed("install-idx")(staged match {
      case Some(stagedPath) =>
        KeyIdx.install(spark, io, targetPath, stagedPath, partCol,
          validIdx.get.nextVer, newLive, prefix)
      case None =>
        KeyIdx.rebuild(spark, io, targetPath,
          commit.committed(stringPart(merged.schema, partCol)), partCol, keys)
    })
    KeyIdx.clearPending(io, targetPath)
    commit.cleanup()
    io.delete(tmp)
    n
    } finally {
      mergedCached.foreach(_.unpersist(blocking = false))
      src.unpersist(blocking = false)
    }
  }
}

/** The key index behind [[Upsert.mergePartitionedPath]] —
  * `<target>/_keyidx/`, underscore-prefixed so Spark's file index
  * never picks it up as data. Two structures, maintained by the same
  * chunk/compaction rhythm:
  *
  * '''Meta chunks''' (`c<ver>-<n>.parquet`, one row per partition the
  * writing merge touched; readers take the max-`ver` row per
  * partition):
  *  - `p_<partCol>`: the partition value in CAST-to-string space
  *    (NULL canonicalized to Hive's default-partition name so index
  *    joins never drop it);
  *  - `min_<key>` / `max_<key>` per key column, in the key's native
  *    type — named after the ACTUAL key columns, so an index built
  *    for different keys (or a renamed key) can never validate
  *    against this merge's definition;
  *  - `nk`: the partition's non-null-key row count (sizes the record
  *    base's bucket count at compaction);
  *  - `sig`: the binding signature — partCol, key names, key types.
  *    [[readValid]] recomputes the expected signature from the
  *    CURRENT target schema and merge definition and rejects any
  *    mismatch (the r13 index validated by positional column names
  *    only, so a same-arity key swap could prune against the wrong
  *    column's ranges and silently miss matched keys).
  *
  * '''Record-level rows''' (`_rec/`): one `(kh, p, ver)` row per
  * non-null key tuple, `kh = xxhash64(key₁…keyₙ)` hashed through the
  * TARGET's column types (xxhash64 is type-sensitive; a coerced batch
  * type would otherwise hash differently and a false NEGATIVE here is
  * data loss, not a missed optimization). Recent merges live as chunk
  * files (`_rec/r<ver>-<n>.parquet` — O(1) files per merge);
  * compaction folds them into a HASH-BUCKETED base
  * (`_rec/base/kb=<b>/`, bucket = top-B bits of `kh`, B scaled so
  * buckets hold ~[[RecBucketRows]] rows). The probe then reads ONLY
  * the buckets its batch hashes land in — I/O ∝ batch size,
  * independent of partition count and per-partition cardinality.
  * This v3 design replaces r14's per-partition Bloom sidecars, which
  * had two measured 100 TB failure modes: a partition past the capped
  * bitset (~200k tuples) saturated to always-candidate — silently
  * restoring the O(target) probe for exactly the reference's own
  * sha256 key shape — and the probe decoded EVERY range-surviving
  * partition's bitset (O(all partitions' index bytes) when ranges
  * cannot pre-prune). Record rows have no cardinality cliff at ANY
  * per-partition count, and bucket pruning caps probe I/O at
  * O(batch × bucket bytes). Cost: ~9 B/key of index (vs the Bloom's
  * ~4 B/key) — priced in SCALE.md.
  *
  * Row liveness: a merge rewrites affected partitions WHOLLY and
  * stages their exact record rows at its `ver`, so a row is live iff
  * `(p, ver)` is a current meta winner; stale rows (keys that left a
  * partition) are filtered by that winner set at probe time and
  * dropped at compaction. External mutation of index internals is
  * outside the failure model — external writers drop the whole
  * `_keyidx` (the documented contract, e.g.
  * [[graft.sources.LayerWriter.overwriteBatchPartitions]]); crash
  * windows are covered by the `_PENDING` marker; a missing `_rec/`
  * side invalidates the index, and an unreadable base geometry sends
  * the merge to the semi probe (over-inclusive, sound).
  */
private[operators] object KeyIdx {

  /** Index directory name inside a partitioned target. */
  val Dir = "_keyidx"

  /** Marker file inside [[Dir]]: present ⇔ a merge's swap window is
    * (or was, at a crash) open and the index must not be trusted. */
  val PendingName = "_PENDING"

  /** Record-level side: chunk files + bucketed base live here,
    * underscore-prefixed so a plain parquet read of [[Dir]] (the meta
    * chunks) never descends into it. */
  val RecDir = "_rec"

  /** Canonical index representation of the NULL partition value. */
  val NullPart: String = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** Distinct-key-tuple budget for the batch side of the record
    * candidate test (a bounded driver fetch of 64-bit hashes,
    * ≤ 512 KiB). Batches beyond it skip the record refinement and
    * fall back to range-only pruning — at that batch size the probe
    * is no longer the dominant cost of the merge. */
  val BatchProbeMax: Int = 1 << 16

  /** Target record-base rows per bucket (~2–3 MB of parquet): B is
    * chosen at compaction/rebuild so buckets stay this size as the
    * index grows, which is what keeps probe I/O ∝ batch size rather
    * than ∝ index size. `var` for spec-scale fixtures only (the
    * [[graft.operators.SpanDedup]] budget-knob pattern). */
  @volatile private[operators] var RecBucketRows: Long = 1L << 18

  /** Bucket-bits ceiling: 2^16 dirs ≈ 17 G rows per index at the
    * default bucket size before buckets start growing past target —
    * and a bound on the file count a compaction writes. */
  val MaxBucketBits: Int = 16

  private def pName(partCol: String) = s"p_$partCol"

  private[operators] def canonicalP(partCol: String): Column =
    coalesce(col(partCol).cast("string"), lit(NullPart))

  private def expectedCols(partCol: String, keys: Seq[String]): Seq[String] =
    pName(partCol) +: (keys.flatMap(k => Seq(s"min_$k", s"max_$k")) ++
      Seq("nk", "sig", "ver"))

  /** The binding signature for the current merge definition against
    * the current target schema. */
  private def sigFor(partCol: String, keys: Seq[String], schema: StructType): String =
    s"v3|part=$partCol|keys=" +
      keys.map(k => s"$k:${schema(k).dataType.sql}").mkString(",")

  private def keyType(schema: StructType, k: String): DataType = schema(k).dataType

  /** `xxhash64(key₁…keyₙ)` over the key tuple, keys cast to the
    * target's column types (see class doc). */
  private def khCol(schema: StructType, keys: Seq[String]): Column =
    xxhash64(keys.map(k => col(k).cast(keyType(schema, k))): _*)

  private def allKeysNotNull(keys: Seq[String]): Column =
    keys.map(col(_).isNotNull).reduce(_ && _)

  /** One exact meta row per partition of `df`: key ranges + non-null
    * key count. A single column-pruned aggregate (shuffles only
    * (partition, small-payload) rows). */
  private def stats(df: DataFrame, partCol: String, keys: Seq[String],
      targetSchema: StructType): DataFrame = {
    val pn = pName(partCol)
    val aggs = keys.flatMap(k => Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k"))) :+
      count(when(allKeysNotNull(keys), 1)).as("nk")
    df.groupBy(canonicalP(partCol).as(pn)).agg(aggs.head, aggs.tail: _*)
      .withColumn("sig", lit(sigFor(partCol, keys, targetSchema)))
  }

  /** Exact record rows for `df`: one (kh, p) per non-null key tuple
    * occurrence (duplicates are harmless — membership is the only
    * question the probe asks). A map-side projection, no shuffle. */
  private def records(df: DataFrame, partCol: String, keys: Seq[String],
      targetSchema: StructType): DataFrame =
    df.where(allKeysNotNull(keys))
      .select(khCol(targetSchema, keys).as("kh"), canonicalP(partCol).as("p"))

  /** Bucket id of a key hash at B bucket bits: the hash's TOP B bits,
    * so the bucket is derivable from `kh` alone whatever B a given
    * base was compacted at. B = 0 ⇒ the single bucket 0 (a Long shift
    * by 64 is a no-op in the JVM, so the degenerate case is explicit). */
  private def kbCol(bBits: Int): Column =
    if (bBits == 0) lit(0L) else shiftrightunsigned(col("kh"), 64 - bBits)

  private def bucketOf(kh: Long, bBits: Int): Long =
    if (bBits == 0) 0L else kh >>> (64 - bBits)

  /** Bucket count for a record base holding `totalRows` rows:
    * ceil(log2(rows / target)), capped at [[MaxBucketBits]]. */
  private def chooseB(totalRows: Long): Int = {
    val buckets = math.max(1L, (totalRows + RecBucketRows - 1) / RecBucketRows)
    if (buckets <= 1L) 0
    else math.min(MaxBucketBits, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1))
  }

  private val recSchema = StructType.fromDDL("kh BIGINT, p STRING, ver BIGINT")

  private def writeB(io: SwapFs, baseDir: HPath, bBits: Int): Unit =
    io.writeText(new HPath(baseDir, "_B"), s"B=$bBits\n#END", overwrite = true)

  private def readB(io: SwapFs, baseDir: HPath): Option[Int] =
    try {
      val s = io.readText(new HPath(baseDir, "_B"))
      if (!s.endsWith("#END")) None
      else Some(s.stripSuffix("\n#END").stripSuffix("#END").trim.stripPrefix("B=").toInt)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Rename the parquet files directly in `dir` to `name(0)`,
    * `name(1)`, … — installs a staged chunk into the live index. */
  private def moveParquet(io: SwapFs, dir: HPath)(name: Int => HPath): Unit =
    io.fs.listStatus(dir).iterator.map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (p, i) => io.rename(p, name(i)) }

  /** Live partition values (raw canonical strings) from the target's
    * live partition-directory names, which are escaped. */
  private def liveValues(liveDirNames: Set[String], prefix: String): Set[String] =
    liveDirNames.iterator
      .filter(n => n.startsWith(prefix) && !n.contains(".old-pmerge"))
      .map(_.stripPrefix(prefix))
      .map(d => if (d == NullPart) NullPart else ExternalCatalogUtils.unescapePathName(d))
      .toSet

  /** Chunk-count ceiling before [[install]] compacts the index back to
    * one meta chunk + a freshly bucketed record base. Chunks make
    * per-merge index maintenance O(1) files and O(affected) bytes;
    * superseded rows accumulate until compaction folds them out
    * (amortized O(index / MaxChunks) per merge). */
  val MaxChunks = 16

  /** The live meta chunk files (`c*.parquet` directly in [[Dir]]), for
    * a read by file name: Spark ignores `_`-prefixed paths, so reading
    * the [[Dir]] directory itself logs an all-paths-ignored warning. */
  private def metaChunks(io: SwapFs, live: HPath): Seq[String] =
    io.fs.listStatus(live).iterator.map(_.getPath)
      .filter(p => p.getName.startsWith("c") && p.getName.endsWith(".parquet"))
      .map(_.toString).toSeq

  def markPending(io: SwapFs, targetPath: String): Unit = {
    val marker = io.path(targetPath + "/" + Dir + "/" + PendingName)
    // presence flag only — content is never read, so a torn create
    // still invalidates
    io.writeText(marker, "", overwrite = true)
  }

  def clearPending(io: SwapFs, targetPath: String): Unit =
    io.delete(io.path(targetPath + "/" + Dir + "/" + PendingName))

  /** Stage exact index rows for `df`'s partitions (the merge's
    * persisted `merged` frame — row-identical to the just-written
    * tmp, served from cache instead of a tmp re-read) into
    * `_keyidx.tmp`, stamped `ver`: one meta chunk file (`meta/`)
    * plus the affected partitions' record rows (`rec/`, bounded to
    * [[RecStageFiles]] files so per-merge maintenance stays O(1)
    * files while a wide batch still writes in parallel). Runs BEFORE
    * the data swap and touches nothing live. */
  def stage(spark: SparkSession, io: SwapFs, targetPath: String, df: DataFrame,
      partCol: String, keys: Seq[String], targetSchema: StructType, ver: Long): HPath = {
    val stagedPath = io.path(targetPath + "/" + Dir + ".tmp")
    io.delete(stagedPath)
    // the meta and record writes are independent small jobs over the
    // same (persisted) frame — run them CONCURRENTLY (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially), so the stage phase costs max(job) instead of
    // sum(job); per-merge fixed latency is paid on every incremental
    // batch, so every overlapped job shows
    Upsert.overlapped(
      stats(df, partCol, keys, targetSchema)
        .withColumn("ver", lit(ver))
        .coalesce(1)
        .write.parquet(new HPath(stagedPath, "meta").toString))(
      records(df, partCol, keys, targetSchema)
        .withColumn("ver", lit(ver))
        .coalesce(RecStageFiles)
        .write.parquet(new HPath(stagedPath, "rec").toString))
    stagedPath
  }

  /** File-count bound on a staged record chunk: small batches coalesce
    * to one file; a wide batch keeps this much write parallelism. */
  val RecStageFiles = 16

  /** Install a staged chunk pair into the live index: move the meta
    * file in as `c<ver>-<n>.parquet` and the record files as
    * `_rec/r<ver>-<n>.parquet` — O(1) renames per merge. Readers take
    * the max-`ver` meta row per partition (and record rows whose
    * `(p, ver)` matches a winner), so superseded rows are inert until
    * the meta chunk count passes [[MaxChunks]], at which point both
    * sides are compacted: meta back to one chunk, record rows into a
    * freshly bucketed base sized by the surviving `nk` total
    * (amortized O(index/MaxChunks) per merge). Rows for partitions
    * the merge deleted simply stop being refreshed: [[readValid]]
    * drops a stale winner for a nonexistent partition, and the next
    * compaction deletes it. */
  def install(spark: SparkSession, io: SwapFs, targetPath: String, stagedPath: HPath,
      partCol: String, ver: Long, liveDirNames: Set[String], prefix: String): Unit = {
    val live = io.path(targetPath + "/" + Dir)
    val recLive = new HPath(live, RecDir)
    if (!io.exists(recLive)) io.fs.mkdirs(recLive)
    moveParquet(io, new HPath(stagedPath, "meta"))(i => new HPath(live, s"c$ver-$i.parquet"))
    moveParquet(io, new HPath(stagedPath, "rec"))(j => new HPath(recLive, s"r$ver-$j.parquet"))
    io.delete(stagedPath)
    if (metaChunks(io, live).length > MaxChunks)
      compact(spark, io, targetPath, partCol, liveDirNames, prefix)
  }

  /** Compact both index sides: meta winners (live partitions only)
    * back to one chunk; live record rows — `(p, ver)` in the winner
    * set — into a fresh hash-bucketed base at a B re-chosen from the
    * surviving key count, dropping every superseded/deleted-partition
    * row. Runs only inside a merge's `_PENDING` window, so any crash
    * mid-compaction degrades the next merge to full probe + rebuild
    * rather than trusting a half-compacted index. */
  private def compact(spark: SparkSession, io: SwapFs, targetPath: String,
      partCol: String, liveDirNames: Set[String], prefix: String): Unit = {
    val pn = pName(partCol)
    val winners = spark.read.parquet(metaChunks(io, io.path(targetPath + "/" + Dir)): _*)
      .filter(col(pn).isin(liveValues(liveDirNames, prefix).toSeq: _*))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(pn))
          .orderBy(col("ver").desc)))
      .filter(col("__rk") === 1).drop("__rk")
    // clear only the live meta chunk files: the `_PENDING` marker stays
    replace(spark, io, targetPath, ".tmpc", winners, pn, "c0-z",
      live => for (st <- io.fs.listStatus(live) if st.getPath.getName.endsWith(".parquet"))
        io.delete(st.getPath)) { wRows =>
      // winner (p, ver) pairs from the written compacted meta
      val winnerKeys = wRows.map(r => s"${r.getString(0)}\u0000${r.getLong(1)}").toSeq
      readRecordRows(spark, io, targetPath, None).map(
        _.filter(concat_ws("\u0000", col("p"), col("ver")).isin(winnerKeys: _*)))
    }
  }

  /** Write a fresh index into the sibling `<Dir><suffix>` — `meta` as
    * one chunk, then the record rows `recs(metaRows)` as a base
    * bucketed for the meta rows' key total (`metaRows`: `(p, ver, nk)`
    * from the written meta — one small file, bounded by the partition
    * count) — and install it: `clear` empties the live side, the
    * record base goes in, and the meta chunk goes in LAST. */
  private def replace(spark: SparkSession, io: SwapFs, targetPath: String, suffix: String,
      meta: DataFrame, pn: String, metaName: String, clear: HPath => Unit)(
      recs: Array[org.apache.spark.sql.Row] => Option[DataFrame]): Unit = {
    val live = io.path(targetPath + "/" + Dir)
    val recLive = new HPath(live, RecDir)
    val tmp = io.path(targetPath + "/" + Dir + suffix)
    io.delete(tmp)
    meta.coalesce(1).write.parquet(new HPath(tmp, "meta").toString)
    val metaRows = spark.read.parquet(new HPath(tmp, "meta").toString)
      .select(col(pn), col("ver"), col("nk")).collect()
    val bBits = chooseB(metaRows.map(_.getLong(2)).sum)
    val base = recs(metaRows)
    base.foreach(_.withColumn("kb", kbCol(bBits))
      .write.partitionBy("kb").parquet(new HPath(tmp, "base").toString))
    clear(live)
    if (base.nonEmpty) {
      io.delete(recLive)
      io.fs.mkdirs(recLive)
      io.rename(new HPath(tmp, "base"), new HPath(recLive, "base"))
      writeB(io, new HPath(recLive, "base"), bBits)
    }
    // meta chunk LAST: a rebuild's `clear` also removed any `_PENDING`
    // marker, and at target creation there is none — a crash before
    // this rename leaves no meta chunk, so readValid rejects the index
    // instead of trusting a record side that has not landed (an empty
    // record side would prune partitions that hold matched keys)
    moveParquet(io, new HPath(tmp, "meta"))(i => new HPath(live, s"$metaName$i.parquet"))
    io.delete(tmp)
  }

  /** Rebuild the whole index from (post-merge) target data: every
    * partition's meta row at ver 0 plus a freshly bucketed record
    * base. The one-time backfill path — entered at target creation
    * and whenever [[readValid]] rejected the index (first merge over
    * an older layout, external writer, crash marker, changed merge
    * definition). */
  def rebuild(spark: SparkSession, io: SwapFs, targetPath: String, df: DataFrame,
      partCol: String, keys: Seq[String]): Unit =
    replace(spark, io, targetPath, ".tmp",
      stats(df, partCol, keys, df.schema).withColumn("ver", lit(0L)), pName(partCol), "c0-",
      io.delete(_))(_ => Some(records(df, partCol, keys, df.schema).withColumn("ver", lit(0L))))

  /** A validated index: its WINNER meta frame (max-ver row per live
    * partition), the winner version per partition (record-row
    * liveness filter), and the version the next chunk should carry. */
  final case class Valid(stats: DataFrame, winnerVers: Map[String, Long], nextVer: Long)

  /** Read the index, validating it against reality before trusting it
    * for pruning: no pending marker, a record side, the exact column
    * set this writer produces (key-NAME-bound), the binding signature
    * matching the CURRENT merge definition and target key types, and a
    * meta row for every live partition directory (rows for
    * since-deleted partitions are dropped). Any doubt → None → the
    * caller full-scans and rebuilds. A v2 (Bloom-sidecar) index fails
    * the column check and is rebuilt as v3 — the upgrade path. */
  def readValid(spark: SparkSession, io: SwapFs, targetPath: String,
      targetSchema: StructType, liveDirNames: Set[String], prefix: String,
      partCol: String, keys: Seq[String]): Option[Valid] = {
    val live = io.path(targetPath + "/" + Dir)
    if (!io.exists(live)) return None
    // no record side: an install would recreate it with only its rows
    if (io.exists(new HPath(live, PendingName)) || !io.exists(new HPath(live, RecDir))) return None
    val pn = pName(partCol)
    val expected = expectedCols(partCol, keys)
    val statsRaw =
      try {
        val chunks = metaChunks(io, live)
        if (chunks.isEmpty) return None
        val df = spark.read.parquet(chunks: _*)
        if (df.columns.sorted.toSeq != expected.sorted) return None
        df.select(expected.map(col): _*)
      } catch { case scala.util.control.NonFatal(_) => return None }
    // key TYPES must match the current target schema — an index built
    // before a type-widening merge would hash the old type
    for (k <- keys)
      if (statsRaw.schema(s"min_$k").dataType != keyType(targetSchema, k)) return None
    // ONE bounded job fetches the whole meta side (<= partitions x
    // chunks small rows); every later consultation — signature,
    // versioning, coverage, and the candidates range phase — runs
    // over the collected rows / a LOCAL relation
    val pnIdx = statsRaw.columns.indexOf(pn)
    val sigIdx = statsRaw.columns.indexOf("sig")
    val verIdx = statsRaw.columns.indexOf("ver")
    val metaRows = statsRaw.collect()
    if (metaRows.isEmpty) return None
    val sigs = metaRows.map(_.getString(sigIdx)).distinct
    if (sigs.length != 1 || sigs(0) != sigFor(partCol, keys, targetSchema)) return None
    // winner per LIVE partition = its max-ver row (later chunks
    // supersede); a partition a merge emptied keeps its last meta row
    // until compaction and must not come back as a candidate
    val liveVals = liveValues(liveDirNames, prefix)
    val winnerVer = metaRows.groupBy(_.getString(pnIdx)).filter(kv => liveVals(kv._1))
      .map { case (pv, rs) => pv -> rs.map(_.getLong(verIdx)).max }
    if (!liveVals.forall(winnerVer.contains)) return None
    val winnerRows = metaRows.filter(r =>
      winnerVer.get(r.getString(pnIdx)).contains(r.getLong(verIdx)))
    // LOCAL relation: the candidates range phase filters it in-process
    val winners = spark.createDataFrame(
      java.util.Arrays.asList(winnerRows: _*), statsRaw.schema)
    Some(Valid(winners, winnerVer, metaRows.map(_.getLong(verIdx)).max + 1))
  }

  /** The record rows visible to a probe: every un-compacted chunk
    * file, plus — when `batchHashes` is given — ONLY the base buckets
    * those hashes land in (path-level pruning: the piece that keeps
    * probe I/O proportional to the batch, not the index; `None` reads
    * the whole base — the compaction path). Returns None when the
    * record side is absent or its bucket geometry is unreadable — the
    * caller skips refinement (over-inclusive, sound). */
  private def readRecordRows(spark: SparkSession, io: SwapFs, targetPath: String,
      batchHashes: Option[Array[Long]]): Option[DataFrame] = {
    val recDir = io.path(targetPath + "/" + Dir + "/" + RecDir)
    if (!io.exists(recDir)) return None
    val chunkFiles = io.fs.listStatus(recDir).iterator
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    val baseDir = new HPath(recDir, "base")
    val basePaths: Seq[String] =
      if (!io.exists(baseDir)) Seq.empty
      else readB(io, baseDir) match {
        case None => return None // base present but geometry unreadable — torn; don't trust
        case Some(bBits) =>
          batchHashes match {
            case Some(hs) =>
              hs.iterator.map(bucketOf(_, bBits)).toSet.toSeq.sorted
                .map(b => new HPath(baseDir, s"kb=$b"))
                .filter(io.exists).map(_.toString)
            case None => // whole base (compaction): list, don't probe 2^B paths
              io.listDirNames(baseDir).filter(_.startsWith("kb="))
                .toSeq.sorted.map(n => new HPath(baseDir, n).toString)
          }
      }
    val all = chunkFiles ++ basePaths
    if (all.isEmpty) Some(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], recSchema))
    else Some(spark.read.schema(recSchema).parquet(all: _*))
  }

  /** Target partitions that may hold one of the batch's keys: range
    * intersection AND (when the batch's distinct key-tuple count fits
    * [[BatchProbeMax]]) a record-membership test of the batch's key
    * hashes. Returns canonical partition values ([[NullPart]] for
    * null) and whether they are EXACT — the record pass ran, no
    * partition outside the batch's own `srcParts` survived the range
    * test, or the batch has no non-null key — so the caller needs no
    * probe (record rows are exact per live `(p, ver)` winner; a hash
    * collision only adds a partition). The record pass is the piece that keeps the answer
    * O(touched) for hash-distributed keys, where every partition
    * survives range intersection — and its I/O is O(batch) bucket
    * files plus the recent un-compacted chunks, never O(partitions),
    * however large each partition's key set is. */
  def candidates(spark: SparkSession, io: SwapFs, targetPath: String, idx: Valid,
      srcKeys: DataFrame, bounds: Option[Row], srcParts: Set[String],
      targetSchema: StructType, keys: Seq[String]): (Seq[String], Boolean) = {
    val pn = idx.stats.columns.head
    // phase 1 — ranges over the winner meta rows (a LOCAL relation),
    // the batch's global bounds (`bmin_<k>`/`bmax_<k>`; None only past
    // the caller's partition budget) as typed literals: Catalyst
    // evaluates the filter on the driver, so this costs no Spark job
    val ranged = bounds.fold(IndexedSeq.empty[String]) { b =>
      def bound(name: String): Column = lit(b.getAs[Any](name)).cast(b.schema(name).dataType)
      val overlap = keys.map { k =>
        col(s"max_$k") >= bound(s"bmin_$k") && col(s"min_$k") <= bound(s"bmax_$k")
      }.reduce(_ && _)
      idx.stats.filter(overlap).select(col(pn)).collect().map(_.getString(0)).toIndexedSeq
    }
    // record-test ONLY range survivors the batch is not already
    // rewriting: a partition in the batch's own write set is read and
    // rewritten regardless, so testing it buys nothing — and for
    // broad batches (a backfill touching every date) this skips the
    // whole membership pass INCLUDING the batch-hash fetch below
    val toTest = ranged.filterNot(srcParts)
    if (toTest.isEmpty) return (ranged, true)
    // batch key hashes, computed IN-ENGINE with the same expression
    // the record rows were built with, fetched as a bounded parameter
    // set (64-bit hashes, <= 512 KiB)
    val khRows = srcKeys.where(allKeysNotNull(keys))
      .select(khCol(targetSchema, keys).as("kh"))
      .distinct().limit(BatchProbeMax + 1).collect()
    if (khRows.length > BatchProbeMax) return (ranged, false)
    // no non-null key tuples in the batch means no equi-match is
    // possible — only the batch's own write set can change
    if (khRows.isEmpty) return (ranged.filter(srcParts), true)
    val hs = khRows.map(_.getLong(0))
    readRecordRows(spark, io, targetPath, Some(hs)) match {
      case None => (ranged, false)
      case Some(rows) =>
        // phase 2 — exact membership over the path-pruned record rows.
        // Live rows only: (p, ver) must be a current winner — stale
        // rows for keys that since left a partition must not
        // resurrect it as a candidate. Few rows (<= the batch's keys
        // per chunk), deduplicated here rather than by a shuffle
        val winnerKeys = idx.winnerVers.map { case (p, v) => s"$p\u0000$v" }.toSeq
        val hits = rows
          .filter(col("kh").isInCollection(hs.toIndexedSeq))
          .filter(concat_ws("\u0000", col("p"), col("ver")).isin(winnerKeys: _*))
          .select(col("p")).collect().map(_.getString(0)).toSet
        (ranged.filter(srcParts) ++ toTest.filter(hits), true)
    }
  }
}
