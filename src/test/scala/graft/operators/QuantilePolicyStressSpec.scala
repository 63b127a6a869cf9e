package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** The MEASURED half of the repo's quantile policy (VERDICT r5 #5).
  *
  * The policy bans exact `percentile` because its aggregation buffer
  * holds every distinct (value, count) pair and merges them all into
  * one final buffer — O(distinct) state on a single task. Until now
  * that was a scaladoc argument plus a plan screen
  * (CatalogSpec). This spec turns it into numbers: on a
  * ~unique-valued column, the bytes `percentile`'s partial buffers
  * push through the exchange GROW LINEARLY with the data (the state
  * IS the data), while [[HistQuantiles]]' grid aggregate ships a
  * bounded O(buckets) histogram no matter how large the input gets.
  * Shuffle-write bytes are the right observable: they are what the
  * memory manager must hold to merge on the final task, they are
  * tracked exactly by the scheduler (unlike untracked JVM object
  * buffers), and their growth curve is the executor-OOM predictor at
  * 100 TB.
  */
class QuantilePolicyStressSpec extends SparkSpec {

  import spark.implicits._

  /** Sums shuffle-write bytes per job group (prefix-scoped: the suite
    * shares one session, so stages must be attributed, not assumed). */
  private class ShuffleMeter(prefix: String) extends SparkListener {
    private val stageToGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val bytesByGroup = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(prefix))
        j.stageInfos.foreach(si => stageToGroup.put(si.stageId, g))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val g = stageToGroup.get(s.stageInfo.stageId)
      if (g != null)
        bytesByGroup.merge(g, s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten,
          (a, b) => a + b)
    }
  }

  test("percentile's shuffled state grows with the data; the grid histogram's does not") {
    // deterministic ~unique doubles (64-bit hash; ANSI-safe). NO
    // repartition: a data shuffle inside the measured plan would swamp
    // the aggregate-state signal — range() is already parallel, so the
    // only exchange in each query is the aggregation's own.
    def uniques(n: Int) = spark.range(n)
      .select((xxhash64(col("id")).cast("double") / lit(1e18)).as("x"))
    val small = uniques(100000)
    val large = uniques(400000) // 4x the distinct values
    val meter = new ShuffleMeter("qpolicy-")
    spark.sparkContext.addSparkListener(meter)
    def measured(tag: String)(action: => Unit): Long = {
      spark.sparkContext.setJobGroup(s"qpolicy-$tag", tag)
      try action finally spark.sparkContext.clearJobGroup()
      Thread.sleep(300) // listener events drain asynchronously
      Option(meter.bytesByGroup.get(s"qpolicy-$tag")).map(_.toLong).getOrElse(0L)
    }
    try {
      val pSmall = measured("p-small") {
        small.agg(expr("percentile(x, 0.5)")).collect() }
      val pLarge = measured("p-large") {
        large.agg(expr("percentile(x, 0.5)")).collect() }
      val gSmall = measured("g-small") {
        HistQuantiles.cut(small, col("x"), 0.5, 4096, "m").collect() }
      val gLarge = measured("g-large") {
        HistQuantiles.cut(large, col("x"), 0.5, 4096, "m").collect() }
      Thread.sleep(700) // final drain before reading all four
      // percentile: partial buffers carry every distinct value — 4x the
      // data must push ~4x the bytes (allow slack for framing overhead)
      assert(pLarge.toDouble / pSmall.toDouble >= 2.5,
        s"percentile shuffle small=$pSmall large=$pLarge — expected ~4x growth")
      // grid: the exchange carries <= buckets count rows at ANY input
      // size — 4x the data must NOT move the shuffled state materially
      assert(gLarge.toDouble <= gSmall.toDouble * 1.5 + 4096,
        s"grid shuffle small=$gSmall large=$gLarge — bounded state must not grow")
      // and at the larger size the two strategies are not in the same
      // universe: the banned aggregate ships an order of magnitude more
      // state than the whole bounded histogram
      assert(pLarge >= 10L * math.max(gLarge, 1L),
        s"percentile=$pLarge grid=$gLarge — expected >= 10x separation")
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}
