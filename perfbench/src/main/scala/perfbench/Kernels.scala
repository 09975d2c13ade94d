package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, unix_micros}

import graft.expr._

/** Times the native kernels of the `expr` layer outside Spark: each family
  * runs through its public entry on inputs cut from the generated event
  * series the way the kernels' queries cut them. */
object Kernels {
  private val Day = 86400000000L
  private val Stride = Day / 4
  /** Sweeps per family; the median is reported. */
  val Reps = 3

  /** The event series in time order. */
  final case class Events(user: Array[Long], ts: Array[Long], value: Array[Double])

  def events(spark: SparkSession, dataDir: String): Events = {
    val rows = graft.core.TsCompat.readEvents(spark, s"$dataDir/events.parquet")
      .select(col("user_id").cast("long"), unix_micros(col("ts")), col("value"))
      .orderBy(col("ts")).collect()
    Events(rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getDouble(2)))
  }

  /** The 1-day windows (6-hour stride) of the whole series. With `prune`,
    * windows above 512 values keep only every 16th, as the queries that
    * prune big windows (`bigWindowKeep` in SparkEntry) do. */
  def windows(ev: Events, prune: Boolean): Seq[ArrayData] = {
    val ts = ev.ts
    if (ts.isEmpty) return Nil
    val out = Seq.newBuilder[ArrayData]
    var lo = 0; var hi = 0; var k = 0
    var ws = ts.head
    while (ws + Day <= ts.last) {
      while (lo < ts.length && ts(lo) < ws) lo += 1
      while (hi < ts.length && ts(hi) < ws + Day) hi += 1
      if (!prune || hi - lo <= 512 || k % 16 == 0)
        out += UnsafeArrayData.fromPrimitiveArray(ev.value.slice(lo, hi))
      ws += Stride; k += 1
    }
    out.result()
  }

  /** q106's fold input: per user with user_id % 10 = 0, one (step, a1, a2)
    * struct per embedded point (every value but the last two). The
    * relational stages fit a1 and a2 by kNN least squares; the fold's cost
    * does not depend on their values, so the series' own values stand in. */
  def lyapFits(ev: Events): Seq[ArrayData] =
    ev.value.indices.filter(i => ev.user(i) % 10 == 0).groupBy(ev.user(_)).values
      .map { idx =>
        val v = idx.map(ev.value)
        new GenericArrayData((0 until math.max(v.length - 2, 0)).map { i =>
          new GenericInternalRow(Array[Any](i.toLong, v(i + 1) / 50.0, v(i + 2) / 50.0))
        }.toArray[Any])
      }.toSeq

  /** Family → its inputs and the work on one input. */
  val families: Seq[(String, Events => Seq[ArrayData], ArrayData => Unit)] = Seq(
    ("catch22", windows(_, prune = false), a => Catch22Util.compute(a)),
    ("kde", windows(_, prune = true), a => {
      EntropyKernelUtil.kdeEntropy(a, false); EntropyKernelUtil.kdeEntropy(a, true) }),
    ("lyap_e", lyapFits, a => LyapEFoldUtil.compute(a)))

  /** The families a mix uses: those its query names name, as in
    * `q99a_catch22_dist`, `q110_entropy_kde` and `q106_lyap_e`. */
  def usedBy(queries: Seq[String]): Set[String] =
    families.map(_._1).filter(f => queries.exists(_.contains(f))).toSet

  /** Median seconds of `Reps` sweeps per selected family. */
  def time(ev: Events, selected: Set[String]): Map[String, Double] =
    families.filter(f => selected(f._1)).map { case (name, inputs, fn) =>
      val use = inputs(ev)
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        use.foreach(fn)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> ts(ts.size / 2)
    }.toMap
}
