package graft.operators

import graft.SparkSpec
import graft.sources.LocalFs
import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.jdk.CollectionConverters._

/** Local file system under the `faulty:` scheme. Every mutating call
  * (create, rename, delete, mkdirs) on a path under an armed
  * [[FaultyFs.Plan]]'s root is recorded by that plan, and the plan's
  * chosen call throws an `IOException` instead of running; every other
  * call passes through. Plans are keyed by root directory, so merges
  * into different roots can run side by side. */
class FaultyFs extends RawLocalFileSystem {
  import FaultyFs.mutate
  override def getUri: URI = URI.create(s"${FaultyFs.Scheme}:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.createNonRecursive(
      f, permission, flags, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = mutate("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    mutate("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = mutate("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutate("mkdirs", f)(super.mkdirs(f, permission))
}

object FaultyFs {
  val Scheme = "faulty"

  /** One mutating call; `path` is relative to the plan's root. */
  final case class Call(op: String, path: String) {
    /** Inside a Spark write's own task/job commit rather than the
      * merge protocol. */
    def spark: Boolean = path.contains("/_temporary") || path.contains(".spark-staging") ||
      path.endsWith("/_SUCCESS")
    /** The output directory of the Spark write this call belongs to. */
    def writeRoot: String =
      if (path.endsWith("/_SUCCESS")) path.stripSuffix("/_SUCCESS")
      else path.split("/_temporary").head.split("/\\.spark-staging").head
  }

  /** Records every call under `root`; the `crashAt`-th call matching
    * `select` throws (0: never). */
  final class Plan(val root: String, select: Call => Boolean, crashAt: Int) {
    val calls = new ConcurrentLinkedQueue[Call]()
    private val matched = new AtomicInteger
    @volatile var fired: Option[Call] = None
    def hit(c: Call): Unit = {
      calls.add(c)
      if (select(c) && matched.incrementAndGet() == crashAt) {
        fired = Some(c)
        throw new IOException(s"$Injected at $c")
      }
    }
  }

  val Injected = "injected crash"
  private val plans = new ConcurrentHashMap[String, Plan]()

  def withPlan[T](plan: Plan)(body: => T): T = {
    plans.put(plan.root, plan)
    try body finally plans.remove(plan.root)
  }

  /** Nesting depth of intercepted calls on this thread: only the
    * outermost call is a crash point (a create's own mkdirs of its
    * parent fails the create, not a separate step). */
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private[operators] def mutate[T](op: String, f: Path)(call: => T): T = {
    if (depth.get == 0) {
      val path = f.toUri.getPath
      plans.values.forEach(p =>
        if (path.startsWith(p.root + "/")) p.hit(Call(op, path.stripPrefix(p.root))))
    }
    depth.set(depth.get + 1)
    try call finally depth.set(depth.get - 1)
  }
}

/** Crash-at-every-mutation matrix for the partition-scoped MERGE.
  *
  * For each commit strategy a target is prepared once; then, for every
  * mutating filesystem call the merge of one batch makes outside
  * Spark's own `_temporary` / `.spark-staging` / `_SUCCESS` paths, plus
  * one call from the middle of each Spark write, a fresh copy of the
  * target is merged through [[FaultyFs]] with that call failing. After
  * each crash: a manifest target must read as exactly the pre- or the
  * post-merge table; re-running the same batch (`leaseStaleMs = 0`,
  * since a crash on the lease-release delete leaves the lease behind)
  * must give the last-write-wins model; and one more batch, whose
  * moved key lives in a partition outside the batch, must give the
  * model too — a key index that survived the crash unsoundly would
  * prune that partition and leave a stale duplicate. */
class CrashMatrixSpec extends SparkSpec {
  import spark.implicits._
  import FaultyFs.{Call, Plan}

  private type Rows = Seq[(Int, String, String)]
  private type Model = Set[(Int, String, String)]
  private val Lease = graft.sources.SwapFs.DefaultLeaseStaleMs
  /** Crash points run side by side: each merges into its own copy of
    * the target, so no two plans share a root. */
  private val Parallel = 4

  spark.sparkContext.hadoopConfiguration.set(s"fs.${FaultyFs.Scheme}.impl", classOf[FaultyFs].getName)

  private val init = Seq((1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d"),
    (5, "d3", "e"), (7, "d5", "f"))
  // updates k1 in place, moves k3 out of d2 (which empties) into the new
  // partition d4, inserts k6; d5 is untouched
  private val batch = Seq((1, "d1", "u"), (3, "d4", "m"), (6, "d3", "n"))
  // moves k4 and k7 into d1: their old partitions are found only through
  // the index — d5's rows in it predate the crashed merge
  private val after = Seq((4, "d1", "x"), (7, "d1", "z"), (2, "d1", "y"))

  private def upsert(m: Model, rows: Rows): Model =
    m.filterNot(r => rows.exists(_._1 == r._1)) ++ rows
  private def model(df: org.apache.spark.sql.DataFrame): Model =
    df.select($"k", $"d".cast("string"), $"v").as[(Int, String, String)].collect().toSet

  /** A commit strategy under test: its merge and its reader. */
  private final case class Strategy(name: String, manifest: Boolean) {
    def merge(path: String, rows: Rows, lease: Long = Lease): Long =
      if (manifest)
        Upsert.mergePartitionedManifest(spark, path, rows.toDF("k", "d", "v"), Seq("k"), "d",
          leaseStaleMs = lease)
      else
        Upsert.mergePartitionedPath(spark, path, rows.toDF("k", "d", "v"), Seq("k"), "d",
          leaseStaleMs = lease)
    def read(path: String): Model =
      model(if (manifest) Upsert.readManifest(spark, path) else spark.read.parquet(path))
  }
  private val InPlace = Strategy("in-place", manifest = false)
  private val Manifest = Strategy("manifest", manifest = true)

  private def copyTree(from: JPath, to: JPath): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  private def causedByInjection(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(FaultyFs.Injected)))

  /** Run `body` against a fresh copy of `prepared` reached through the
    * `faulty:` scheme, with `plan(root)` armed. */
  private def onCopy[T](prepared: JPath, plan: String => Plan)(body: (String, Plan) => T): T = {
    val dir = LocalFs.scratchDir("crash-point")
    try {
      copyTree(prepared, dir.resolve("fact"))
      val p = plan(dir.toString)
      body(s"${FaultyFs.Scheme}://$dir/fact", p)
    } finally LocalFs.deleteRecursively(dir)
  }

  /** Crash the merge of `batch` into copies of `prepared` (holding
    * `pre`) at every point, checking each outcome. */
  private def sweep(st: Strategy, prepared: JPath, pre: Model): Unit = {
    val t0 = System.nanoTime()
    val post = upsert(pre, batch)
    // dry run: the call sequence of one uncrashed merge
    val calls = onCopy(prepared, new Plan(_, _ => false, 0)) { (path, plan) =>
      FaultyFs.withPlan(plan)(st.merge(path, batch))
      assert(st.read(path) == post)
      plan.calls.asScala.toSeq
    }
    val protocol = calls.filterNot(_.spark)
    val writes = calls.filter(_.spark).groupBy(_.writeRoot).toSeq.sortBy(_._1)
    val points: Seq[(String, Call => Boolean, Int)] =
      protocol.indices.map(i =>
        (s"protocol call ${i + 1} ${protocol(i)}", (c: Call) => !c.spark, i + 1)) ++
      writes.map { case (root, cs) =>
        (s"spark write $root (${cs.size} calls)",
          (c: Call) => c.spark && c.writeRoot == root, cs.size / 2 + 1)
      }
    def crashAt(label: String, select: Call => Boolean, k: Int): Unit =
      onCopy(prepared, new Plan(_, select, k)) { (path, plan) =>
        try FaultyFs.withPlan(plan)(st.merge(path, batch))
        catch { case e: Exception if causedByInjection(e) => () }
        assert(plan.fired.nonEmpty, s"$label: the crash point was never reached")
        if (st.manifest) {
          val seen = st.read(path)
          assert(seen == pre || seen == post, s"$label: manifest read a torn table $seen")
        }
        // a crash on the lease-release delete leaves the lease behind
        st.merge(path, batch, lease = 0L)
        assert(st.read(path) == post, s"$label: re-run did not converge")
        st.merge(path, after, lease = 0L)
        assert(st.read(path) == upsert(post, after), s"$label: merge after recovery")
        assert(!Files.exists(java.nio.file.Paths.get(new java.net.URI(path).getPath,
          "_keyidx", "_PENDING")), s"$label: index left pending")
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Parallel)
    val failures = try {
      points.map { case (label, select, k) =>
        pool.submit(() =>
          try { crashAt(label, select, k); None }
          catch {
            case e: org.scalatest.exceptions.TestFailedException => Some(e.getMessage)
            case e: Throwable => Some(s"$label: $e")
          })
      }.flatMap(_.get())
    } finally pool.shutdown()
    assert(failures.isEmpty, failures.mkString("\n"))
    info(f"${st.name}: ${protocol.size} protocol calls + ${writes.size} Spark writes swept " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Prepare a target by merging `batches` with `st`; returns the
    * prepared directory's model. */
  private def prepare(st: Strategy, target: JPath, batches: Rows*): Model =
    batches.foldLeft(Set.empty: Model) { (m, b) => st.merge(target.toString, b); upsert(m, b) }

  test("in-place merge survives a crash at every mutation, index compaction included") {
    val work = LocalFs.scratchDir("crash-prep")
    try {
      val target = work.resolve("fact")
      // MaxChunks meta chunks, prepared once for every point: the swept
      // merge stages and installs one more, which then compacts the index
      val t0 = System.nanoTime()
      val pre = prepare(InPlace, target,
        init +: (1 until KeyIdx.MaxChunks).map(i => Seq((5, "d3", s"e$i"))): _*)
      val chunks = Files.list(target.resolve("_keyidx"))
      try assert(chunks.iterator().asScala.count(_.toString.endsWith(".parquet")) == KeyIdx.MaxChunks)
      finally chunks.close()
      info(f"prepared ${KeyIdx.MaxChunks} index chunks in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      sweep(InPlace, target, pre)
    } finally LocalFs.deleteRecursively(work)
  }

  test("manifest merge survives a crash at every mutation, index rebuild included") {
    val work = LocalFs.scratchDir("crash-prep")
    try {
      val target = work.resolve("fact")
      // two generations, so the swept commit's gc drops the oldest; and
      // the pending marker of an earlier crash, so the swept merge
      // full-probes and rebuilds the whole index
      val pre = prepare(Manifest, target, init, Seq((5, "d3", "e1")))
      Files.createFile(target.resolve("_keyidx/_PENDING"))
      sweep(Manifest, target, pre)
    } finally LocalFs.deleteRecursively(work)
  }
}
