package graft.operators

import graft.SparkSpec
import java.nio.file.Files

class UpsertSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{sha2, concat, lit}

  test("upsertBatch: matched keys replaced, unmatched survive, new keys insert") {
    val target = Seq((1, "old1"), (2, "old2")).toDF("k", "v")
    val source = Seq((2, "new2"), (3, "new3")).toDF("k", "v")
    val out = Upsert.upsertBatch(target, source, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(out == Set((1, "old1"), (2, "new2"), (3, "new3")))
  }

  test("mergeIntoPath is idempotent and swaps atomically") {
    val path = Files.createTempDirectory("merge").toString + "/clean"
    val batch1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val batch2 = Seq((2, "B"), (3, "c")).toDF("k", "v")
    assert(Upsert.mergeIntoPath(spark, path, batch1, Seq("k")) == 2)
    assert(Upsert.mergeIntoPath(spark, path, batch2, Seq("k")) == 3)
    val after = spark.read.parquet(path).as[(Int, String)].collect().toSet
    assert(after == Set((1, "a"), (2, "B"), (3, "c")))
    // re-running the same batch changes nothing (L2 idempotency, SURVEY §5)
    assert(Upsert.mergeIntoPath(spark, path, batch2, Seq("k")) == 3)
    assert(spark.read.parquet(path).as[(Int, String)].collect().toSet == after)
  }

  private def partFiles(root: String, part: String): Map[String, Seq[Byte]] = {
    val dir = java.nio.file.Paths.get(root, part)
    val s = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
    } finally s.close()
  }

  test("mergePartitionedPath rewrites ONLY affected partitions — untouched files byte-identical") {
    val path = Files.createTempDirectory("pmerge").toString + "/fact"
    val init = Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b"), (3, "2024-01-03", "c"))
      .toDF("k", "d", "v")
    assert(Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d") == 3)
    val before = partFiles(path, "d=2024-01-01")
    assert(before.nonEmpty)
    // batch touches ONLY 2024-01-02 (update) and 2024-01-04 (insert)
    val batch = Seq((2, "2024-01-02", "B"), (4, "2024-01-04", "x")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 2)
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c"), (4, "x")))
    // the untouched partition was not rewritten: same file names, same bytes
    assert(partFiles(path, "d=2024-01-01") == before)
    // idempotency: re-running the same batch changes nothing
    assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 2)
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c"), (4, "x")))
  }

  test("mergePartitionedPath moves a key whose partition value changed (no stale duplicate)") {
    // twice: answered by the key index, and with the index's record
    // side deleted, where the semi probe must find the old partition
    // and the index must come back whole (a record side holding only
    // the fallback merge's rows would hide key 2 from the next merge)
    for (dropRec <- Seq(false, true)) {
      val path = Files.createTempDirectory("pmerge-move").toString + "/fact"
      val init = Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b")).toDF("k", "d", "v")
      Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
      if (dropRec) {
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        assert(fs.delete(new org.apache.hadoop.fs.Path(path + "/_keyidx/_rec"), true))
      }
      // key 1 MOVES from 01-01 to 02-01: the old partition held only this
      // row, so the merge must DELETE the emptied partition directory
      val move = Seq((1, "2024-02-01", "A")).toDF("k", "d", "v")
      assert(Upsert.mergePartitionedPath(spark, path, move, Seq("k"), "d") == 1)
      val rows = spark.read.parquet(path).select($"k", $"d", $"v")
        .as[(Int, String, String)].collect().toSeq
      assert(rows.sorted == Seq((1, "2024-02-01", "A"), (2, "2024-01-02", "b")), s"dropRec=$dropRec")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "d=2024-01-01")))
      Upsert.mergePartitionedPath(spark, path,
        Seq((2, "2024-03-01", "B")).toDF("k", "d", "v"), Seq("k"), "d")
      assert(spark.read.parquet(path).select($"k", $"d", $"v").as[(Int, String, String)]
        .collect().sorted.toSeq == Seq((1, "2024-02-01", "A"), (2, "2024-03-01", "B")),
        s"dropRec=$dropRec")
    }
  }

  // every FileSourceScanExec in an executed plan, through AQE wrappers
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => fileScans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    // a persisted frame's scans run inside its cached plan
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      fileScans(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  test("key-range index bounds the matched-key probe: untouched partitions are never read") {
    val path = Files.createTempDirectory("pmerge-probe").toString + "/fact"
    // four partitions with disjoint key ranges, one data file each
    val init = Seq((1, "d1", "a"), (2, "d1", "a2"), (11, "d2", "b"),
      (21, "d3", "c"), (31, "d4", "e")).toDF("k", "d", "v").repartition(1)
    assert(Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d") == 5)
    // input-file accounting: every scan over the target that any query
    // during the second merge actually executed
    val scans = accountedScans(path) {
      // batch updates one key inside d2's range: the index must prune
      // the probe (and everything else) to that single partition
      val batch = Seq((11, "d2", "B")).toDF("k", "d", "v")
      assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 1)
    }
    assert(scans.nonEmpty, "expected at least one accounted scan over the target")
    // 4 partition dirs × 1 file: any scan reading >1 file read an
    // untouched partition
    assert(scans.forall(_._2 <= 1), s"a merge scan read untouched partitions: ${scans.toSeq}")
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "a2"), (11, "B"), (21, "c"), (31, "e")))
  }

  test("a missing or stale key index degrades to the full probe and is rebuilt") {
    val path = Files.createTempDirectory("pmerge-noidx").toString + "/fact"
    val init = Seq((1, "d1", "a"), (11, "d2", "b")).toDF("k", "d", "v")
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    // simulate an external writer that dropped the index
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(path + "/_keyidx"), true))
    val batch = Seq((11, "d2", "B"), (21, "d3", "c")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 2)
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (11, "B"), (21, "c")))
    // the fallback merge rebuilt the index for the next batch
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "/_keyidx")))
  }

  test("mergeIntoPath crash recovery: a surviving .old-merge is restored and the merge converges") {
    val path = Files.createTempDirectory("merge-crash").toString + "/clean"
    val batch1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Upsert.mergeIntoPath(spark, path, batch1, Seq("k"))
    // simulate a crash between "target -> .old" and "tmp -> target":
    // the target is gone, the previous state survives at .old-merge
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old-merge")))
    val batch2 = Seq((2, "B"), (3, "c")).toDF("k", "v")
    assert(Upsert.mergeIntoPath(spark, path, batch2, Seq("k")) == 3)
    assert(spark.read.parquet(path).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old-merge")))
  }

  test("swap layer runs through the Hadoop FileSystem API on an explicit file: URI") {
    // the scheme-qualified form a cluster deployment would pass
    // (hdfs://..., s3a://...) — locally `file:` resolves to Hadoop's
    // LocalFileSystem through the exact same SwapFs code path
    val dir = Files.createTempDirectory("merge-uri")
    val path = "file://" + dir.toString + "/clean"
    val batch1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val batch2 = Seq((2, "B"), (3, "c")).toDF("k", "v")
    assert(Upsert.mergeIntoPath(spark, path, batch1, Seq("k")) == 2)
    assert(Upsert.mergeIntoPath(spark, path, batch2, Seq("k")) == 3)
    assert(spark.read.parquet(path).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("mergePartitionedPath crash recovery: a mid-swap .old-pmerge leftover is restored, no rows lost") {
    val path = Files.createTempDirectory("pmerge-crash").toString + "/fact"
    val init = Seq((1, "2024-01-01", "a"), (2, "2024-01-01", "b"), (3, "2024-01-02", "c"))
      .toDF("k", "d", "v")
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    // simulate a crash between "dst -> .old-pmerge" and "tmp -> dst":
    // the live partition is gone; its pre-merge rows survive only in
    // the leftover. The key index still exists and knows nothing of
    // the leftover — a pruned rerun must NOT lose key 1.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path, "d=2024-01-01"),
      new org.apache.hadoop.fs.Path(path, "d=2024-01-01.old-pmerge")))
    val batch = Seq((2, "2024-01-01", "B")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 2)
    assert(spark.read.parquet(path).select($"k", $"d".cast("string"), $"v")
      .as[(Int, String, String)].collect().toSet ==
      Set((1, "2024-01-01", "a"), (2, "2024-01-01", "B"), (3, "2024-01-02", "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "d=2024-01-01.old-pmerge")))
    // the other window: install completed, leftover not yet dropped
    fs.mkdirs(new org.apache.hadoop.fs.Path(path, "d=2024-01-02.old-pmerge"))
    assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "d=2024-01-02.old-pmerge")))
  }

  test("mergePartitionedPath works on an explicit file: URI (scheme-qualified cluster form)") {
    val dir = Files.createTempDirectory("pmerge-uri")
    val path = "file://" + dir.toString + "/fact"
    val init = Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d") == 2)
    val batch = Seq((2, "2024-01-02", "B"), (3, "2024-01-03", "c")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 2)
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c")))
  }

  // shared scan-accounting harness: run `body` with a listener
  // capturing every file scan over `path`, return the scans
  private def accountedScans(path: String)(body: => Unit): Array[(String, Long)] =
    accountedScansWhere(_ == path)(body)

  private def accountedScansWhere(pathMatch: String => Boolean)(
      body: => Unit): Array[(String, Long)] =
    plannedWhile { qe =>
      fileScans(qe.executedPlan).flatMap(s => s.relation.location.rootPaths
        .map(rp => rp.toUri.getPath -> s.metrics("numFiles").value))
        .filter(x => pathMatch(x._1))
    }(body)

  // run `body` with a listener applying `probe` to every query that
  // succeeds, return everything `probe` reported
  private def plannedWhile[T: scala.reflect.ClassTag](
      probe: org.apache.spark.sql.execution.QueryExecution => Seq[T])(body: => Unit): Array[T] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    // listener events arrive late: a query the test ran just before
    // `body` can still be queued when the listener registers — count
    // only queries planned from here on
    val t0 = System.currentTimeMillis()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        if (qe.tracker.phases.values.forall(_.startTimeMs >= t0)) probe(qe).foreach(seen.add)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events are async — poll until the count is stable
      // for three consecutive 200 ms windows (or 15 s)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def reported = { import scala.jdk.CollectionConverters._; seen.asScala.toArray }
      Thread.sleep(1000)
      var last = reported
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val now = reported
        if (now.length == last.length) stable += 1 else stable = 0
        last = now
      }
      last
    } finally spark.listenerManager.unregister(listener)
  }

  test("record index bounds the probe for HASH-DISTRIBUTED keys: untouched partitions never read") {
    // the degenerate case for range pruning — sha256 keys (the
    // reference's own surrogate-key type): every partition's [min,max]
    // spans ~the whole hex space, so only the record-level
    // (key-hash, partition) lookup can prune the matched-key probe
    val path = Files.createTempDirectory("pmerge-hash").toString + "/fact"
    val init = (0 until 200).map { i =>
      (org.apache.commons.codec.digest.DigestUtils.sha256Hex(s"k$i"), s"d${i % 4 + 1}", i) }
      .toDF("k", "d", "v").repartition(1)
    assert(Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d") == 200)
    // every partition holds 50 sha keys: ranges cannot prune (verify
    // the premise — each partition's hex range spans the batch key)
    val batchKey = org.apache.commons.codec.digest.DigestUtils.sha256Hex("k5") // lives in d2
    val scans = accountedScans(path) {
      val batch = Seq((batchKey, "d2", -1)).toDF("k", "d", "v")
      assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 50)
    }
    assert(scans.nonEmpty, "expected accounted scans over the target")
    // 4 partition dirs × 1 file: any scan reading >1 file read an
    // untouched partition — with hash keys that means the record pass
    // failed to prune
    assert(scans.forall(_._2 <= 1), s"a merge scan read untouched partitions: ${scans.toSeq}")
    val after = spark.read.parquet(path).select($"k", $"v").as[(String, Int)].collect().toMap
    assert(after(batchKey) == -1 && after.size == 200)
  }

  // a partition-scoped merge keyed on k, partitioned by d, and its read
  private def scopedMerge(manifest: Boolean, path: String)(df: org.apache.spark.sql.DataFrame): Long =
    if (manifest) Upsert.mergePartitionedManifest(spark, path, df, Seq("k"), "d")
    else Upsert.mergePartitionedPath(spark, path, df, Seq("k"), "d")
  private def scopedRead(manifest: Boolean, path: String): org.apache.spark.sql.DataFrame =
    if (manifest) Upsert.readManifest(spark, path) else spark.read.parquet(path)

  // does `qe` plan a left-semi join whose left side reads under `root`
  private def semiOver(root: String)(qe: org.apache.spark.sql.execution.QueryExecution): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    qe.analyzed.exists {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi =>
        j.left.exists {
          case r: LogicalRelation => r.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
            case _ => false
          }
          case _ => false
        }
      case _ => false
    }
  }

  test("a valid key index answers the affected set: the merge plans no semi probe of the target") {
    for (manifest <- Seq(false, true)) {
      val path = Files.createTempDirectory("pmerge-nosemi").toString + "/fact"
      val merge = scopedMerge(manifest, path) _
      merge(Seq((1, "d1", "a"), (11, "d2", "b"), (21, "d3", "c")).toDF("k", "d", "v"))
      // an update, a key MOVING out of d3 (which empties) and an insert:
      // the index alone must name d3 as affected
      val semis = plannedWhile(qe => Seq(semiOver(path)(qe))) {
        assert(merge(Seq((11, "d2", "B"), (21, "d4", "C"), (31, "d5", "e"))
          .toDF("k", "d", "v")) == 3)
      }
      assert(semis.nonEmpty, "expected the merge's queries to be seen")
      assert(!semis.contains(true), s"manifest=$manifest: a semi probe of the target was planned")
      assert(scopedRead(manifest, path).select($"k", $"d", $"v")
        .as[(Int, String, String)].collect().sorted.toSeq ==
        Seq((1, "d1", "a"), (11, "d2", "B"), (21, "d4", "C"), (31, "d5", "e")))
    }
  }

  test("a partition a merge emptied is no candidate before the next compaction") {
    val path = Files.createTempDirectory("pmerge-emptied").toString + "/fact"
    Upsert.mergePartitionedPath(spark, path,
      Seq((1, "d1", "a"), (11, "d2", "b")).toDF("k", "d", "v"), Seq("k"), "d")
    // key 1 moves out and d1 is deleted; its last meta row stays in
    // the chunks until compaction, and must not be read as a winner
    Upsert.mergePartitionedPath(spark, path, Seq((1, "d3", "A")).toDF("k", "d", "v"), Seq("k"), "d")
    val io = graft.sources.SwapFs.forPath(spark, path)
    val idx = KeyIdx.readValid(spark, io, path, spark.read.parquet(path).schema,
      io.listDirNames(io.path(path)), "d=", "d", Seq("k")).get
    assert(idx.winnerVers.keySet == Set("d2", "d3"))
    assert(idx.stats.select($"p_d").as[String].collect().toSet == Set("d2", "d3"))
  }

  test("an empty batch into an existing target writes nothing and returns 0") {
    for (manifest <- Seq(false, true)) {
      val path = Files.createTempDirectory("pmerge-empty").toString + "/fact"
      val merge = scopedMerge(manifest, path) _
      val init = Seq((1, "d1", "a"), (11, "d2", "b")).toDF("k", "d", "v")
      merge(init)
      assert(merge(init.limit(0)) == 0, s"manifest=$manifest")
      assert(scopedRead(manifest, path).select($"k", $"d", $"v")
        .as[(Int, String, String)].collect().sorted.toSeq ==
        Seq((1, "d1", "a"), (11, "d2", "b")), s"manifest=$manifest")
    }
  }

  test("the probe bound holds PAST the r14 Bloom saturation cap: 300k-key sha partitions still prune") {
    // r14's per-partition Bloom bitsets saturated at ~200k distinct
    // tuples (2^22-bit cap) and stored NULL = always-candidate — for
    // sha keys that silently restored the O(target) probe. The
    // record-level index has no cardinality cliff: scan accounting
    // must show the same one-partition bound at 300k keys/partition.
    val path = Files.createTempDirectory("pmerge-bigcard").toString + "/fact"
    val perPart = 300000L
    val init = spark.range(0L, 3L * perPart)
      .select(sha2(concat(lit("k"), $"id".cast("string")), 256).as("k"),
        concat(lit("d"), ($"id" / perPart).cast("int").cast("string")).as("d"),
        $"id".as("v"))
      .repartition(1)
    assert(Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d") == 3 * perPart)
    val batchKey = org.apache.commons.codec.digest.DigestUtils.sha256Hex(
      "k" + (perPart + 5)) // lives in d1
    val scans = accountedScans(path) {
      val batch = Seq((batchKey, "d1", -1L)).toDF("k", "d", "v")
      assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == perPart)
    }
    assert(scans.nonEmpty, "expected accounted scans over the target")
    assert(scans.forall(_._2 <= 1),
      s"a merge scan read untouched 300k-key partitions: ${scans.toSeq}")
    val row = spark.read.parquet(path).filter($"k" === batchKey)
      .select($"v").as[Long].collect().toSeq
    assert(row == Seq(-1L))
  }

  test("record-base bucket pruning: a small batch's probe reads only its hash buckets") {
    // the piece that keeps probe I/O ∝ batch size rather than ∝ index
    // size: the compacted record base is hash-bucketed (kb=<b>/ dirs)
    // and the probe reads ONLY the buckets its batch hashes land in.
    // Shrink the bucket-row target so the fixture compacts into many
    // buckets, then account the base scans of a one-key batch.
    val saved = KeyIdx.RecBucketRows
    KeyIdx.RecBucketRows = 64
    try {
      val path = Files.createTempDirectory("pmerge-buckets").toString + "/fact"
      val init = spark.range(0L, 2048L)
        .select(sha2(concat(lit("k"), $"id".cast("string")), 256).as("k"),
          concat(lit("d"), ($"id" % 4).cast("string")).as("d"),
          $"id".as("v"))
        .repartition(1)
      assert(Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d") == 2048)
      // creation rebuilds the index: base bucketed at B ≥ 5 (2048/64)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val baseDir = new org.apache.hadoop.fs.Path(path + "/_keyidx/_rec/base")
      val buckets = fs.listStatus(baseDir).count(_.getPath.getName.startsWith("kb="))
      assert(buckets >= 16, s"fixture must produce many buckets, got $buckets")
      val batchKey = org.apache.commons.codec.digest.DigestUtils.sha256Hex("k7") // d3
      val baseScans = accountedScansWhere(_.contains("/_keyidx/_rec/base")) {
        val batch = Seq((batchKey, "d3", -1L)).toDF("k", "d", "v")
        assert(Upsert.mergePartitionedPath(spark, path, batch, Seq("k"), "d") == 512)
      }
      assert(baseScans.nonEmpty, "expected accounted scans over the record base")
      // one batch hash → exactly one bucket DIR among the >=16 live
      // ones; any second root path means bucket path-pruning failed
      val bucketDirsRead = baseScans.map(_._1).distinct
      assert(bucketDirsRead.length == 1,
        s"the probe read record-base buckets outside the batch's hashes: $bucketDirsRead")
    } finally KeyIdx.RecBucketRows = saved
  }

  test("exact post-swap index rows: a key moving OUT tightens the range, later batches prune it") {
    // d1 holds keys {1, 100} (wide range); the first batch MOVES key
    // 100 to d2. The index row for d1 must be recomputed EXACTLY
    // ([1,1]) — a widened index (the r13 design) would keep [1,100]
    // and a later disjoint batch at k=50 would still read d1's file
    val path = Files.createTempDirectory("pmerge-tight").toString + "/fact"
    val init = Seq((1, "d1", "a"), (100, "d1", "w"), (200, "d2", "b"))
      .toDF("k", "d", "v").repartition(1)
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    Upsert.mergePartitionedPath(spark, path,
      Seq((100, "d2", "W")).toDF("k", "d", "v"), Seq("k"), "d")
    val scans = accountedScans(path) {
      // k=50 is inside d1's STALE range [1,100] but outside its exact
      // post-move range [1,1] — and is a new key, so nothing matches
      assert(Upsert.mergePartitionedPath(spark, path,
        Seq((50, "d3", "x")).toDF("k", "d", "v"), Seq("k"), "d") == 1)
    }
    assert(scans.forall(_._2 == 0), s"the tightened index should prune every partition " +
      s"from the probe of a disjoint batch, but a scan read files: ${scans.toSeq}")
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (100, "W"), (200, "b"), (50, "x")))
  }

  test("index is BOUND to its merge definition: a same-arity different key falls back, never mis-prunes") {
    // r13's index validated positional column names only — merging the
    // same target keyed on a different same-arity column would have
    // pruned the probe against the WRONG column's ranges and could
    // silently miss matched keys. v2 binds key names+types+partCol in
    // the signature: the mismatched index is rejected, the merge takes
    // the full probe, and the result is exactly upsert-on-v semantics.
    val path = Files.createTempDirectory("pmerge-bind").toString + "/fact"
    val init = Seq((1, "d1", 500), (2, "d2", 7)).toDF("k", "d", "v")
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    // now merge keyed on v: source v=500 matches the d1 row (k=1) —
    // an index mis-bound to k's ranges would prune d1 out of the
    // probe (500 is far outside k's [1,1]) and leave a duplicate
    assert(Upsert.mergePartitionedPath(spark, path,
      Seq((9, "d3", 500)).toDF("k", "d", "v"), Seq("v"), "d") == 1)
    val rows = spark.read.parquet(path).select($"k", $"d".cast("string"), $"v")
      .as[(Int, String, Int)].collect().toSet
    assert(rows == Set((9, "d3", 500), (2, "d2", 7)),
      s"matched-on-v row must move (no stale duplicate): $rows")
  }

  test("single-writer fence: a held lease fails loud, a stale lease is taken over, failure releases") {
    val dir = Files.createTempDirectory("merge-fence")
    val path = dir.toString + "/clean"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(path + graft.sources.SwapFs.LockSuffix)
    val batch = Seq((1, "a")).toDF("k", "v")
    // 1. held lease (fresh mtime) → loud failure, target untouched
    fs.create(lock, true).close()
    val e = intercept[IllegalStateException] {
      Upsert.mergeIntoPath(spark, path, batch, Seq("k"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)))
    // the foreign lease survives the failed attempt (it is not ours)
    assert(fs.exists(lock))
    // 2. stale lease (mtime pushed past the threshold) → takeover
    fs.setTimes(lock, System.currentTimeMillis() - graft.sources.SwapFs.DefaultLeaseStaleMs - 1000, -1)
    assert(Upsert.mergeIntoPath(spark, path, batch, Seq("k")) == 1)
    assert(!fs.exists(lock), "lease released after a successful merge")
    // 3. the partitioned form is fenced too, and releases on FAILURE
    val ppath = dir.toString + "/fact"
    val init = (1 to 6).map(i => (i, s"2024-01-0$i", "v")).toDF("k", "d", "v")
    Upsert.mergePartitionedPath(spark, ppath, init, Seq("k"), "d")
    intercept[IllegalArgumentException] {
      Upsert.mergePartitionedPath(spark, ppath, init, Seq("k"), "d", maxPartitions = 2)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ppath + graft.sources.SwapFs.LockSuffix)),
      "lease must be released when the merge fails")
    // and a held lease blocks the partitioned form as well
    val plock = new org.apache.hadoop.fs.Path(ppath + graft.sources.SwapFs.LockSuffix)
    fs.create(plock, true).close()
    intercept[IllegalStateException] {
      Upsert.mergePartitionedPath(spark, ppath, init, Seq("k"), "d")
    }
    fs.delete(plock, false)
  }

  test("a crash inside the swap window leaves the _PENDING marker; the next merge rebuilds, then prunes again") {
    val path = Files.createTempDirectory("pmerge-pending").toString + "/fact"
    val init = Seq((1, "d1", "a"), (11, "d2", "b")).toDF("k", "d", "v").repartition(1)
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path + "/_keyidx/_PENDING")
    // simulate the crash: marker present (set before the first
    // live-directory mutation, cleared only after the index rewrite)
    fs.create(marker, true).close()
    // the next merge must NOT trust the index (full probe), must
    // converge, and must leave a clean rebuilt index
    assert(Upsert.mergePartitionedPath(spark, path,
      Seq((11, "d2", "B")).toDF("k", "d", "v"), Seq("k"), "d") == 1)
    assert(!fs.exists(marker), "rebuild clears the pending marker")
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (11, "B")))
    // and the rebuilt index prunes again: disjoint batch reads nothing
    val scans = accountedScans(path) {
      Upsert.mergePartitionedPath(spark, path,
        Seq((99, "d9", "z")).toDF("k", "d", "v"), Seq("k"), "d")
    }
    assert(scans.forall(_._2 == 0), s"rebuilt index should prune: ${scans.toSeq}")
  }

  test("manifest merge: a torn physical install is invisible — readers see exactly old-or-new") {
    val path = Files.createTempDirectory("mmerge").toString + "/fact"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val init = Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b"), (3, "2024-01-03", "c"))
      .toDF("k", "d", "v")
    assert(Upsert.mergePartitionedManifest(spark, path, init, Seq("k"), "d") == 3)
    val before = Upsert.readManifest(spark, path)
      .select($"k", $"d".cast("string"), $"v").as[(Int, String, String)].collect().toSet
    assert(before == Set((1, "2024-01-01", "a"), (2, "2024-01-02", "b"), (3, "2024-01-03", "c")))
    // simulate a merge that crashed MID-COPY into the next generation
    // on a flat store: a partial, garbage partition dir exists in _g1
    // and no manifest was committed — the torn-rename window the
    // in-place swap cannot survive on copy+delete schemes
    val torn = new org.apache.hadoop.fs.Path(path, "_g1/d=2024-01-02")
    fs.mkdirs(torn)
    val out = fs.create(new org.apache.hadoop.fs.Path(torn, "part-00000.parquet"), true)
    out.write("NOT A PARQUET FILE — half-copied garbage".getBytes("UTF-8")); out.close()
    // readers resolve through the manifest: the torn dir is invisible
    assert(Upsert.readManifest(spark, path)
      .select($"k", $"d".cast("string"), $"v").as[(Int, String, String)].collect().toSet == before)
    // the real merge cleans the stale generation and commits atomically
    val batch = Seq((2, "2024-01-02", "B"), (4, "2024-01-04", "x")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedManifest(spark, path, batch, Seq("k"), "d") == 2)
    assert(Upsert.readManifest(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c"), (4, "x")))
    // untouched partitions' physical dirs were never mutated (still in
    // generation 0). N-1 retention: the PREVIOUS manifest and the
    // dirs it references survive one commit (a reader that resolved
    // it mid-merge keeps its files), so manifest 0 and its copy of
    // the merged partition are still present here...
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_g0/d=2024-01-01")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_manifest.0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_manifest.1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_g0/d=2024-01-02")))
    // ...and expire after the NEXT commit: only readers outliving TWO
    // commits share the usual snapshot-expiry caveat
    val batch2 = Seq((4, "2024-01-04", "x2")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedManifest(spark, path, batch2, Seq("k"), "d") == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_manifest.0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_g0/d=2024-01-02")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_manifest.1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_manifest.2")))
    // dirs referenced by a retained manifest survive
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_g0/d=2024-01-01")))
  }

  test("manifest merge semantics match in-place: moves, emptied partitions, idempotency, mode guards") {
    val path = Files.createTempDirectory("mmerge-sem").toString + "/fact"
    val init = Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b")).toDF("k", "d", "v")
    Upsert.mergePartitionedManifest(spark, path, init, Seq("k"), "d")
    // key 1 MOVES partition; its old partition empties out of the manifest
    val move = Seq((1, "2024-02-01", "A")).toDF("k", "d", "v")
    assert(Upsert.mergePartitionedManifest(spark, path, move, Seq("k"), "d") == 1)
    val rows = Upsert.readManifest(spark, path)
      .select($"k", $"d".cast("string"), $"v").as[(Int, String, String)].collect().toSet
    assert(rows == Set((1, "2024-02-01", "A"), (2, "2024-01-02", "b")))
    // idempotency: re-running the same batch changes nothing
    assert(Upsert.mergePartitionedManifest(spark, path, move, Seq("k"), "d") == 1)
    assert(Upsert.readManifest(spark, path)
      .select($"k", $"d".cast("string"), $"v").as[(Int, String, String)].collect().toSet == rows)
    // mode guards: in-place merge on a manifest target fails loud...
    val e1 = intercept[IllegalArgumentException] {
      Upsert.mergePartitionedPath(spark, path, move, Seq("k"), "d")
    }
    assert(e1.getMessage.contains("manifest"))
    // ...and a manifest merge on an in-place target fails loud
    val ipath = Files.createTempDirectory("mmerge-guard").toString + "/fact"
    Upsert.mergePartitionedPath(spark, ipath, init, Seq("k"), "d")
    val e2 = intercept[IllegalArgumentException] {
      Upsert.mergePartitionedManifest(spark, ipath, move, Seq("k"), "d")
    }
    assert(e2.getMessage.contains("in-place"))
    // three live generation groups, one holding only the null
    // partition — first as an older group, then as the newest: every
    // group reads with the date type of the newest group that holds a
    // date, so no merge or read loses a partition value
    val gpath = Files.createTempDirectory("mmerge-gens").toString + "/fact"
    val io = graft.sources.SwapFs.forPath(spark, gpath)
    def gmerge(rows: (Int, Option[String], String)*): Unit = {
      Upsert.mergePartitionedManifest(spark, gpath, rows.toDF("k", "d", "v"), Seq("k"), "d")
      val st = graft.sources.ManifestStore.read(io, gpath).get
      if (st.gen >= 2) assert(st.parts.values.map(_.takeWhile(_ != '/')).toSet.size == 3)
    }
    def read(): Set[(Int, String, String)] = {
      val got = Upsert.readManifest(spark, gpath)
      assert(got.schema("d").dataType == org.apache.spark.sql.types.DateType, got.schema)
      got.select($"k", $"d".cast("string"), $"v").as[(Int, String, String)].collect().toSet
    }
    gmerge((1, Some("2024-01-01"), "a"), (2, Some("2024-01-02"), "b"), (4, Some("2024-01-02"), "c"))
    gmerge((3, None, "n")) // _g1: the null partition only, the newest group
    gmerge((2, Some("2024-01-02"), "B")) // _g2: key 4 must survive the rewrite
    assert(read() == Set((1, "2024-01-01", "a"), (2, "2024-01-02", "B"), (4, "2024-01-02", "c"),
      (3, null, "n")))
    gmerge((3, None, "N")) // _g3: the null partition only, newest again
    assert(read() == Set((1, "2024-01-01", "a"), (2, "2024-01-02", "B"), (4, "2024-01-02", "c"),
      (3, null, "N")))
  }

  test("manifest merge keeps the key-index probe bound: untouched partitions never read") {
    val path = Files.createTempDirectory("mmerge-probe").toString + "/fact"
    val init = Seq((1, "d1", "a"), (2, "d1", "a2"), (11, "d2", "b"),
      (21, "d3", "c"), (31, "d4", "e")).toDF("k", "d", "v").repartition(1)
    assert(Upsert.mergePartitionedManifest(spark, path, init, Seq("k"), "d") == 5)
    // manifest reads scan per-generation dirs — account any scan whose
    // root lives under the target's generation layout
    val scans = accountedScansWhere(_.startsWith(path + "/_g")) {
      val batch = Seq((11, "d2", "B")).toDF("k", "d", "v")
      assert(Upsert.mergePartitionedManifest(spark, path, batch, Seq("k"), "d") == 1)
    }
    assert(scans.nonEmpty, "expected accounted scans over the generation layout")
    assert(scans.forall(_._2 <= 1), s"a manifest-merge scan read untouched partitions: ${scans.toSeq}")
    assert(Upsert.readManifest(spark, path).select($"k", $"v").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "a2"), (11, "B"), (21, "c"), (31, "e")))
  }

  test("index chunks compact past the ceiling and keep pruning correctly") {
    val path = Files.createTempDirectory("pmerge-chunks").toString + "/fact"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val init = Seq((1, "d1", 0), (100, "d2", 0)).toDF("k", "d", "v")
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    // 2×MaxChunks merges: chunk count must stay bounded by compaction
    for (i <- 1 to 2 * KeyIdx.MaxChunks)
      Upsert.mergePartitionedPath(spark, path,
        Seq((1, "d1", i)).toDF("k", "d", "v"), Seq("k"), "d")
    val chunks = fs.listStatus(new org.apache.hadoop.fs.Path(path + "/_keyidx"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(chunks <= KeyIdx.MaxChunks + 1, s"chunk count unbounded: $chunks")
    assert(spark.read.parquet(path).select($"k", $"v").as[(Int, Int)].collect().toSet ==
      Set((1, 2 * KeyIdx.MaxChunks), (100, 0)))
    // and the compacted index still prunes: disjoint batch reads nothing
    val scans = accountedScans(path) {
      Upsert.mergePartitionedPath(spark, path,
        Seq((50, "d3", 0)).toDF("k", "d", "v"), Seq("k"), "d")
    }
    assert(scans.forall(_._2 == 0), s"compacted index should prune: ${scans.toSeq}")
  }

  test("a merge's overlapped jobs run under the caller's current job group") {
    // the bounds fetch and the two index-stage writes run beside the
    // merge's own thread; a pooled thread would keep the job group that
    // was current when the pool created it, so a group-B merge after a
    // group-A one would file those jobs under A (cancelJobGroup misses)
    val path = Files.createTempDirectory("pmerge-group").toString + "/fact"
    Upsert.mergePartitionedPath(spark, path,
      Seq((1, "d1", "a"), (11, "d2", "b")).toDF("k", "d", "v"), Seq("k"), "d")
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    try {
      sc.setJobGroup("merge-A", "first merge")
      Upsert.mergePartitionedPath(spark, path, Seq((1, "d1", "A")).toDF("k", "d", "v"), Seq("k"), "d")
      sc.addSparkListener(listener)
      sc.setJobGroup("merge-B", "second merge")
      Upsert.mergePartitionedPath(spark, path, Seq((11, "d2", "B")).toDF("k", "d", "v"), Seq("k"), "d")
      // listener events arrive in order: once this job's start is seen,
      // every merge job's start has been delivered
      sc.setJobGroup("sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
    import scala.jdk.CollectionConverters._
    val groups = seen.asScala.toSeq.filterNot(_ == "sentinel")
    assert(groups.nonEmpty && groups.forall(_ == "merge-B"), s"merge jobs by group: $groups")
  }

  test("mergePartitionedPath fails loud past the partition budget") {
    val path = Files.createTempDirectory("pmerge-cap").toString + "/fact"
    val init = (1 to 8).map(i => (i, s"2024-01-0$i", "v")).toDF("k", "d", "v")
    Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d")
    val e = intercept[IllegalArgumentException] {
      Upsert.mergePartitionedPath(spark, path, init, Seq("k"), "d", maxPartitions = 4)
    }
    assert(e.getMessage.contains("more than 4 partitions"))
  }
}
