package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ivm, IvmOverJoin, JoinIvm, MergeTable}

/**
 * view_refresh: writes beside reads on four maintained views. Each op is
 * one cycle on one family: one write that applies a seeded CDC batch
 * (plus `gc` on some slots), then one read: the view, or for the mirror
 * the batch's keys. A round is the fixed slot sequence [[slots]].
 *
 * Families: a MergeTable mirror of orders, an Ivm q1-style aggregate
 * over lineitem, a JoinIvm orders⋈customer rollup and an IvmOverJoin
 * min/max/count-distinct over the same join.
 *
 * Batches are a few hundred scattered keys; two slots a round take 10%
 * of their table instead. Around the mirror's ops MergeTable's
 * commit-mode knobs are set to this scale ([[MergeConf]]; the product's
 * defaults pick the overlay only above a million touched rows), so the
 * mirror's two slots a round commit as an overlay (DELTA) and then as a
 * fold of that overlay with the next batch, and every round starts with
 * no overlay outstanding. The Ivm families' state tables keep the
 * defaults, so they commit copy-on-write. Batches update some rows,
 * delete others and re-insert what the family's previous batch deleted,
 * so table sizes stay in a band. The generator tracks every base table;
 * at the end each view must equal a plain-Spark recompute over it.
 */
class ViewRefresh extends Workload {
  val tables: Seq[String] = Seq.empty
  val sf = 0.004
  val Buckets = 4
  val Small = 200
  val LargeFrac = 0.1
  /** Overlay budget (rows) of the mirror: a small batch (~250-350 rows)
    * fits, a small one and a large one (~650 rows) together do not. */
  val OverlayBudget = 400
  val MergeConf: Seq[(String, String)] = Seq(
    "graft.mergetable.scatter.minRows" -> "0",
    "graft.mergetable.delta.minRows" -> "0",
    "graft.mergetable.delta.maxRows" -> OverlayBudget.toString)

  /** One op of a round: family index, large batch, gc after the write. */
  final case class Slot(f: Int, big: Boolean, gc: Boolean)
  val slots: Seq[Slot] = Seq(
    Slot(0, big = false, gc = false), // mirror: overlay commit
    Slot(1, big = false, gc = true),
    Slot(2, big = true, gc = false),
    Slot(0, big = true, gc = true),   // mirror: overlay over budget, fold
    Slot(3, big = false, gc = true))

  private val sizes = Gen.Sizes(sf)
  private var base: State = _
  private var st: State = _

  /** Tracked base tables of every family. */
  final class State(val dir: String, seed: Long) {
    val rnd = new scala.util.Random(Gen.mix(seed ^ 0x5EED))
    val orders = mutable.LinkedHashMap.empty[Long, Row]
    val lines = mutable.LinkedHashMap.empty[(Long, Int), Row]
    val facts = Array.fill(2)(mutable.LinkedHashMap.empty[Long, Row])
    val dims = Array.fill(2)(mutable.LinkedHashMap.empty[Long, Row])
    // deleted last batch, re-inserted next batch: key -> row
    val pending = Array.fill(4)(mutable.LinkedHashMap.empty[Any, Row])
    def copyTo(dir: String): State = {
      val s = new State(dir, seed)
      s.orders ++= orders
      s.lines ++= lines
      (0 to 1).foreach { i => s.facts(i) ++= facts(i); s.dims(i) ++= dims(i) }
      s
    }
  }

  /** One family's next write: made now (the tracked base moves with it),
    * applied by `run`. `keys` are the mirror keys it touched. */
  final case class Write(rows: Int, keys: Seq[Long], run: () => Any)

  val mirrorSchema: StructType = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))
  val lineSchema: StructType = StructType(Seq(StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("qty", LongType),
    StructField("cents", LongType)))
  val factSchema: StructType = StructType(Seq(StructField("custkey", LongType),
    StructField("cents", LongType)))
  val dimSchema: StructType = StructType(Seq(StructField("custkey", LongType),
    StructField("segment", StringType)))

  val ivmSpec: Ivm.Spec = Ivm.Spec(Seq("l_returnflag", "l_linestatus"), Seq(
    Ivm.Count("count_order"), Ivm.Sum("qty", "sum_qty"), Ivm.Sum("cents", "sum_price"),
    Ivm.Avg("qty", "avg_qty"), Ivm.Max("cents", "max_price")))
  val joinSpec: JoinIvm.Spec = JoinIvm.Spec(joinCols = Seq("custkey"), groupCols = Seq("segment"),
    aggs = Seq(Ivm.Count("orders"), Ivm.Sum("cents", "revenue"), Ivm.Avg("cents", "avg_cents")))
  val minmaxSpec: IvmOverJoin.Spec = IvmOverJoin.Spec(joinCols = Seq("custkey"),
    groupCols = Seq("segment"), aggs = Seq(Ivm.Count("orders"), Ivm.Min("cents", "min_cents"),
      Ivm.Max("cents", "max_cents"), Ivm.CountDistinct("cents", "n_prices"),
      Ivm.Sum("cents", "revenue")))

  val families = Seq("mergetable", "ivm", "joinivm", "ivmoverjoin")

  private def df(spark: SparkSession, rows: Iterable[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schema)

  private def cents(d: Double): Long = math.floor(d * 100).toLong

  private def dir(fam: String): String = s"${st.dir}/$fam"

  override def generate(ctx: Ctx): Unit = {
    val s = new State("", ctx.seed)
    (0L until sizes.orders).foreach { o =>
      val r = Gen.order(ctx.seed, sizes, o)
      s.orders(o) = Row(o, r.getLong(1), r.getString(2), r.getDouble(3))
      val f = Row(r.getLong(1), cents(r.getDouble(3)))
      s.facts(0)(o) = f
      s.facts(1)(o) = f
      Gen.lines(ctx.seed, sizes, o).foreach { l =>
        s.lines((o, l.getInt(3))) =
          Row(l.getString(8), l.getString(9), l.getDouble(4).toLong, cents(l.getDouble(5)))
      }
    }
    (0L until sizes.customer).foreach { c =>
      val d = Row(c, Gen.customer(ctx.seed, c).getString(4))
      s.dims(0)(c) = d
      s.dims(1)(c) = d
    }
    base = s
  }

  private def parallel(bodies: Seq[() => Any]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(bodies.map(b => Future(b()))), 10.minutes)
    finally pool.shutdown()
  }

  /** Builds the four views concurrently, as set-up only (timed ops run
    * one call at a time), then runs one untimed round, so the timed
    * rounds run no code path for the first time. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    st = base.copyTo(ctx.stateDir)
    val orders = df(spark, st.orders.values, mirrorSchema)
    val lines = df(spark, st.lines.values, lineSchema)
    val facts = st.facts.map(f => df(spark, f.values, factSchema))
    val dims = st.dims.map(d => df(spark, d.values, dimSchema))
    val (noFacts, noDims) = (df(spark, Nil, factSchema), df(spark, Nil, dimSchema))
    val builds: Seq[() => Any] = Seq(
      () => MergeTable.build(spark, dir("mergetable"), orders,
        keyCols = Seq("o_orderkey"), bucketCols = Seq("o_orderkey"), nBuckets = Buckets),
      () => {
        Ivm.create(spark, dir("ivm"), lineSchema, ivmSpec, nBuckets = Buckets)
        Ivm.applyDelta(spark, dir("ivm"), lines, df(spark, Nil, lineSchema))
      },
      () => {
        JoinIvm.create(spark, dir("joinivm"), factSchema, dimSchema, joinSpec, nBuckets = Buckets)
        JoinIvm.applyDelta(spark, dir("joinivm"), facts(0), noFacts, dims(0), noDims)
      },
      () => {
        IvmOverJoin.create(spark, dir("ivmoverjoin"), factSchema, dimSchema, minmaxSpec,
          nBuckets = Buckets)
        IvmOverJoin.applyDelta(spark, dir("ivmoverjoin"), facts(1), noFacts, dims(1), noDims)
      })
    ctx.rec.mark("view_build")(parallel(builds))
    ctx.rec.mark("warmup")(round(ctx, -1))
  }

  /** Runs `body` with the mirror's commit-mode knobs set. */
  private def withMergeConf[T](spark: SparkSession)(body: => T): T = {
    MergeConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally MergeConf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  def round(ctx: Ctx, r: Int): Unit = slots.foreach(s => cycle(ctx, s))

  /** Keys to update and to delete in this family's next batch. */
  private def pick[K](keys: mutable.LinkedHashMap[K, Row], big: Boolean): (Seq[K], Seq[K]) = {
    val n = if (big) math.max(Small, (keys.size * LargeFrac).toInt) else Small
    val arr = keys.keysIterator.toIndexedSeq
    val idx = mutable.LinkedHashSet.empty[Int]
    while (idx.size < math.min(n, arr.size)) idx += st.rnd.nextInt(arr.size)
    idx.toSeq.map(arr).splitAt(idx.size * 3 / 4)
  }

  /** Apply the re-inserts of family `f`'s previous batch to `table`, park
    * this batch's deletes in their place, and return the re-inserted rows. */
  private def cycleDeletes[K](f: Int, table: mutable.LinkedHashMap[K, Row],
                              del: Seq[K]): Seq[Row] = {
    val back = st.pending(f).toSeq
    st.pending(f).clear()
    del.foreach(k => st.pending(f)(k) = table.remove(k).get)
    back.foreach { case (k, r) => table(k.asInstanceOf[K]) = r }
    back.map(_._2)
  }

  private def nextWrite(spark: SparkSession, f: Int, big: Boolean): Write = families(f) match {
    case "mergetable" =>
      val (upd, del) = pick(st.orders, big)
      val ups = upd.map { k =>
        val o = st.orders(k)
        Row(k, o.getLong(1), "FOP".charAt(st.rnd.nextInt(3)).toString,
          math.floor((o.getDouble(3) + st.rnd.nextInt(1000)) * 100) / 100)
      }
      ups.foreach(r => st.orders(r.getLong(0)) = r)
      val all = ups ++ cycleDeletes(f, st.orders, del)
      val (u, d) = (df(spark, all, mirrorSchema), df(spark, del.map(Row(_)),
        StructType(mirrorSchema.take(1))))
      Write(all.size + del.size, all.map(_.getLong(0)) ++ del,
        () => MergeTable.merge(spark, dir("mergetable"), u, d))
    case "ivm" =>
      val (upd, del) = pick(st.lines, big)
      val dels = (upd ++ del).map(st.lines)
      val ins = upd.map { k =>
        val l = st.lines(k)
        val r = Row("RAN".charAt(st.rnd.nextInt(3)).toString, l.getString(1),
          1L + st.rnd.nextInt(50), l.getLong(3) + st.rnd.nextInt(5000))
        st.lines(k) = r
        r
      } ++ cycleDeletes(f, st.lines, del)
      val (i, d) = (df(spark, ins, lineSchema), df(spark, dels, lineSchema))
      Write(ins.size + dels.size, Nil, () => Ivm.applyDelta(spark, dir("ivm"), i, d))
    case fam =>
      val side = f - 2
      val facts = st.facts(side)
      val dims = st.dims(side)
      val (upd, del) = pick(facts, big)
      val fDel = (upd ++ del).map(facts)
      val fIns = upd.map { k =>
        val r = Row(facts(k).getLong(0), facts(k).getLong(1) + st.rnd.nextInt(5000))
        facts(k) = r
        r
      } ++ cycleDeletes(f, facts, del)
      val moved = pick(dims, big = false)._1.take(if (big) dims.size / 20 else 5)
      val dDel = moved.map(dims)
      val dIns = moved.map(c => Row(c, Gen.Segments(st.rnd.nextInt(Gen.Segments.length))))
      dIns.foreach(r => dims(r.getLong(0)) = r)
      val a = (df(spark, fIns, factSchema), df(spark, fDel, factSchema),
        df(spark, dIns, dimSchema), df(spark, dDel, dimSchema))
      Write(fIns.size + fDel.size + dIns.size + dDel.size, Nil, () =>
        if (fam == "joinivm") JoinIvm.applyDelta(spark, dir(fam), a._1, a._2, a._3, a._4)
        else IvmOverJoin.applyDelta(spark, dir(fam), a._1, a._2, a._3, a._4))
  }

  private def gcOf(spark: SparkSession, fam: String): Unit = fam match {
    case "mergetable" => MergeTable.gc(spark, dir(fam), 2)
    case "ivm" => Ivm.gc(spark, dir(fam), 2)
    case "joinivm" => JoinIvm.gc(spark, dir(fam), 2)
    case _ => IvmOverJoin.gc(spark, dir(fam), 2)
  }

  /** A family's read: the view, or for the mirror the batch's keys. */
  private def read(spark: SparkSession, fam: String, keys: Seq[Long]): Array[Row] =
    if (fam == "mergetable") view(spark, fam).filter(col("o_orderkey").isin(keys: _*)).collect()
    else view(spark, fam).collect()

  private def view(spark: SparkSession, fam: String): DataFrame = fam match {
    case "mergetable" => MergeTable.read(spark, dir(fam))
    case "ivm" => Ivm.readView(spark, dir(fam))
    case "joinivm" => JoinIvm.readView(spark, dir(fam))
    case _ => IvmOverJoin.readView(spark, dir(fam))
  }

  private def commitCounts: Seq[Long] =
    Seq(MergeTable.cowCommits, MergeTable.deltaCommits, MergeTable.foldCommits).map(_.get)

  /** One op: the family's write (made before the op starts, so only
    * product calls are timed), an optional gc, then its read. */
  private def cycle(ctx: Ctx, slot: Slot): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val fam = families(slot.f)
    val mirror = fam == "mergetable"
    val w = nextWrite(spark, slot.f, slot.big)
    var got: Array[Row] = null
    val before = commitCounts
    def body(): Unit = ctx.op(fam, fam) {
      rec.call("write", fam, if (mirror) "mergetable.merge" else s"$fam.apply") {
        rec.attr("batch_rows", w.rows)
        w.run()
      }
      if (slot.gc) rec.call("maint", fam, s"$fam.gc")(gcOf(spark, fam))
      got = rec.call("read", fam, if (mirror) "mergetable.read" else s"$fam.read_view") {
        read(spark, fam, w.keys)
      }
    }
    if (mirror) withMergeConf(spark)(body()) else body()
    if (rec.tracing) {
      Seq("cow_commits", "delta_commits", "fold_commits").zip(commitCounts.zip(before))
        .foreach { case (k, (a, b)) => rec.attrOp(k, (a - b).toDouble) }
      if (mirror) {
        val (_, upRows, delRows) = MergeTable.overlayStats(spark, dir(fam))
        rec.attrOp("overlay_rows", (upRows + delRows).toDouble)
        rec.attrOp("files", fileCount(spark, dir(fam)).toDouble)
      }
    }
    if (mirror && got != null) {
      val byKey = got.map(r => r.getLong(0) -> r).toMap
      w.keys.find(k => byKey.get(k) != st.orders.get(k)).foreach { k =>
        rec.failLast(s"mirror key $k: read ${byKey.get(k)} want ${st.orders.get(k)}")
      }
    }
  }

  private def fileCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /** Each view against a plain-Spark recompute over the tracked base. */
  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def same(fam: String, want: DataFrame): Unit = {
      val cols = want.columns.toSeq
      val a = Fingerprint.ofRows(cols, view(spark, fam).select(cols.map(col): _*).collect())
      val b = Fingerprint.ofRows(cols, want.collect())
      ctx.check(s"view_refresh.$fam", a == b, s"view $a != recompute $b")
    }
    same("mergetable", df(spark, st.orders.values, mirrorSchema))
    same("ivm", df(spark, st.lines.values, lineSchema).groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("count_order"), sum("qty").as("sum_qty"),
        sum("cents").as("sum_price"), avg("qty").as("avg_qty"), max("cents").as("max_price")))
    Seq("joinivm" -> 0, "ivmoverjoin" -> 1).foreach { case (fam, side) =>
      val joined = df(spark, st.facts(side).values, factSchema)
        .join(df(spark, st.dims(side).values, dimSchema), "custkey").groupBy("segment")
      same(fam,
        if (fam == "joinivm") joined.agg(count(lit(1)).as("orders"), sum("cents").as("revenue"),
          avg("cents").as("avg_cents"))
        else joined.agg(count(lit(1)).as("orders"), min("cents").as("min_cents"),
          max("cents").as("max_cents"), count_distinct(col("cents")).as("n_prices"),
          sum("cents").as("revenue")))
    }
  }
}
