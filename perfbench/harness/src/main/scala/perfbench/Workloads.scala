package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.actions.{ActionSink, CollectingSink}
import graft.etl.{BronzeIngest, GoldBuild, Pipeline, PipelineConfig, RunReport, SilverScd2}
import graft.sources.{LandingSource, TableConfig, TableStore}

/** A workload: `setup` once, then `prepare` and `call` repeatedly, only
  * `call` inside the timed region. `checkSetup` and `check` verify the
  * outputs of set-up and of a call outside it (None = correct,
  * Some(reason) = failed) and `cleanup` removes what the call left behind. */
trait Workload {
  def setup(): Unit
  def checkSetup(): Option[String] = None
  /** Untimed preparation of call `i`. */
  def prepare(i: Int): Unit = ()
  def call(i: Int): Unit
  def check(i: Int): Option[String]
  def cleanup(i: Int): Unit = ()
  /** Per-call counts the workload itself observes (rows, staged rows). */
  def callCounts: Map[String, Double] = Map.empty
  /** Figures of set-up (seconds, rows) by metric name. */
  def setupFigures: Map[String, Double] = Map.empty
  /** The first `warmup` calls are warm-up; the rest are the warm calls. */
  def warmup: Int
  /** A run makes at least this many warm calls, whatever its length. */
  def warmCalls: Int
}

object FileTree {
  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Full copy of `src` into `dst` — never links: the store rewrites its
    * pointer and watermark files in place, which would write through. */
  def copy(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else Files.copy(s, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
}

/** What the generator wrote, read from `expected.tsv`: rows per landing
  * table, (changed, new) keys per table of each delta, and rows per Gold
  * mart that the landing fixes. */
final case class Expected(base: Map[String, Long],
                          deltas: Map[Int, Map[String, (Long, Long)]],
                          gold: Map[String, Long])

object Expected {
  def load(root: Path): Expected = {
    val lines = Files.readAllLines(root.resolve("expected.tsv")).asScala.map(_.split("\t"))
    Expected(
      lines.collect { case Array("base", t, n) => t -> n.toLong }.toMap,
      lines.collect { case Array("delta", k, t, c, n) => (k.toInt, t, c.toLong, n.toLong) }
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(r => r._2 -> (r._3, r._4)).toMap },
      lines.collect { case Array("gold", m, n) => m -> n.toLong }.toMap)
  }
}

/** `graft.etl.Pipeline.run` over generated landing CSVs.
  *
  * Set-up is the initial load: the full landing into an empty root with
  * the Gold build (the bulk regime: CSV inference, parquet encode, the
  * Silver initial-load branch, the star join and all marts). Its result is
  * the snapshot every call starts from: call i copies the part of it that
  * its tables read into a fresh root (untimed) and runs delta i % K
  * without Gold, so all calls do the same work. A delta holds the tables
  * the generator wrote for it, and a call's configuration lists those
  * tables only.
  *
  * Traced, a run makes the same layer calls `Pipeline.run` makes, in the
  * same order, with a span around each. */
final class PipelineWorkload(spark: SparkSession, root: Path, tracer: Tracer)
    extends Workload {
  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val T1 = Timestamp.valueOf("2026-02-01 00:00:00")
  val tables: Seq[TableConfig] = Seq(
    TableConfig("region", "r_regionkey"), TableConfig("nation", "n_nationkey"),
    TableConfig("customer", "c_custkey"), TableConfig("supplier", "s_suppkey"),
    TableConfig("part", "p_partkey"), TableConfig("orders", "o_orderkey"),
    TableConfig("lineitem", "l_key"))
  private val expected = Expected.load(root)
  private val k = expected.deltas.size
  private val snapshot = root.resolve("snapshot")
  private def callDir(i: Int) = root.resolve(s"calls/$i")
  private def delta(i: Int): Int = i % k

  private def conf(dir: Path, landingDir: Path, only: Set[String]) = PipelineConfig(
    landingRoot = landingDir.toString,
    bronzeRoot = dir.resolve("bronze").toString,
    silverRoot = dir.resolve("silver").toString,
    goldRoot = dir.resolve("gold").toString,
    stateRoot = dir.resolve("state").toString,
    tables = tables.filter(t => only(t.name)),
    sideChannelTable = "customer",
    sideChannelCols = Seq("c_custkey", "c_name"))

  /** The Gold fact over the Silver current slices: the star join of
    * graft.etl.StarSchema in the reference's fact vocabulary. */
  private def fact(store: TableStore, silverRoot: String)(s: SparkSession): DataFrame = {
    def cur(t: String) = GoldBuild.currentSlice(store, silverRoot, t)
    def dec(c: Column) = c.cast("decimal(12,2)")
    val (li, ord, cus, prt, sup, nat, reg) = (cur("lineitem"), cur("orders"),
      cur("customer"), cur("part"), cur("supplier"), cur("nation"), cur("region"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cus, ord("o_custkey") === cus("c_custkey"))
      .join(prt, li("l_partkey") === prt("p_partkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(nat, cus("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .select(
        li("l_orderkey").as("OrderID"), li("l_linenumber").as("OrderItemID"),
        ord("o_custkey").as("CustomerID"), cus("c_name").as("CustomerName"),
        li("l_partkey").as("ProductID"), prt("p_name").as("ProductName"),
        prt("p_brand").as("CategoryName"), li("l_suppkey").as("SellerID"),
        sup("s_name").as("SellerName"), nat("n_name").as("NationName"),
        reg("r_name").as("RegionName"),
        when(li("l_returnflag") === "N", "Delivered")
          .when(li("l_returnflag") === "A", "Cancelled")
          .otherwise("Returned").as("StatusName"),
        dec(li("l_quantity")).as("Quantity"),
        dec(li("l_extendedprice")).as("CurrentPrice"),
        (dec(li("l_quantity")) * dec(li("l_extendedprice"))).as("TotalAmount"),
        ord("o_orderdate").cast("timestamp").as("OrderDate"))
  }

  /** Delivers to a CollectingSink, inside an `actions.deliver` span. */
  private final class SpanSink(inner: ActionSink) extends ActionSink {
    override def deliver(records: DataFrame): Unit =
      tracer.span("actions.deliver")(inner.deliver(records))
  }

  private var report: RunReport = _
  private var sink: CollectingSink = _

  private def runPipeline(c: PipelineConfig, ts: Timestamp, gold: Boolean): RunReport = {
    sink = new CollectingSink
    if (!tracer.enabled) {
      val pipe = new Pipeline(spark, c, sink)
      pipe.run(ts, Option.when(gold)(fact(pipe.store, c.silverRoot)))
    } else {
      val pipe = new Pipeline(spark, c, new SpanSink(sink))
      val land = new LandingSource(spark, c.landingRoot)
      val bronze = tracer.span("etl.BronzeIngest.run")(
        BronzeIngest.run(land, pipe.store, c.bronzeRoot, ts))
      val silver = c.tables.filter(_.active).map { tc =>
        tracer.span(s"etl.SilverScd2.run.${tc.name}")(
          SilverScd2.run(pipe.store, pipe.watermarks, c.bronzeRoot, c.silverRoot,
            tc, ts, new SpanSink(sink), c.sideChannelTable, c.sideChannelCols))
      }
      val marts = Option.when(gold)(tracer.span("etl.GoldBuild.run")(
        GoldBuild.run(spark, pipe.store, c.goldRoot, fact(pipe.store, c.silverRoot)(spark))))
      RunReport(bronze, silver, marts)
    }
  }

  private var setupRows = Map.empty[String, Double]

  override def setup(): Unit = {
    report = runPipeline(conf(snapshot, root.resolve("landing"), tables.map(_.name).toSet),
      T0, gold = true)
    setupRows = Map(
      "setup.etl.BronzeIngest.rows" -> report.bronze.map(_.rows).sum.toDouble,
      "setup.etl.GoldBuild.rows" -> report.gold.map(_.marts.values.sum).getOrElse(0L).toDouble)
  }

  // A warm call takes ~4 s after a ~6 s first call; the run budget allows
  // three. Measuring later calls instead made runs no steadier.
  override def warmup: Int = 1
  override def warmCalls: Int = 3

  /** Copies the snapshot's Bronze and Silver of the called tables, and
    * the watermarks, into the call's root. */
  private var restoreS = 0.0
  override def prepare(i: Int): Unit = tracer.span("bench.restore") {
    restoreS = Tracer.timed {
      for (t <- expected.deltas(delta(i)).keys; layer <- Seq("bronze", "silver"))
        FileTree.copy(snapshot.resolve(s"$layer/$t"), callDir(i).resolve(s"$layer/$t"))
      FileTree.copy(snapshot.resolve("state"), callDir(i).resolve("state"))
    }._2
  }

  override def call(i: Int): Unit = {
    val d = delta(i)
    report = runPipeline(conf(callDir(i), root.resolve(s"deltas/$d"), expected.deltas(d).keySet),
      T1, gold = false)
  }

  /** Mismatches of the report against per-table (Bronze rows, Bronze
    * action, Silver staged rows, Silver action) and the side channel. */
  private def mismatches(want: Map[String, (Long, String, Long, String)],
                         newCustomers: Long): Seq[String] = {
    val bronze = report.bronze.map(b => b.table -> (b.rows, b.action)).toMap
    val silver = report.silver.map(s => s.table -> (s.staged, s.action)).toMap
    val delivered = sink.batches.map(_.size.toLong).sum
    Option.when(bronze.keySet != want.keySet)(s"bronze tables ${bronze.keySet} != ${want.keySet}").toSeq ++
      want.toSeq.sortBy(_._1).flatMap { case (t, (br, ba, sr, sa)) =>
        Seq(
          Option.when(bronze.get(t) != Some((br, ba)))(s"bronze $t ${bronze.get(t)} != ($br,$ba)"),
          Option.when(silver.get(t) != Some((sr, sa)))(s"silver $t ${silver.get(t)} != ($sr,$sa)"))
          .flatten
      } ++ Option.when(delivered != newCustomers)(s"side channel $delivered != $newCustomers")
  }

  /** The initial load, and Gold: seven marts, none empty, and the rows of
    * those the landing fixes equal to the generator's counts. */
  override def checkSetup(): Option[String] = {
    val marts = report.gold.map(_.marts).getOrElse(Map.empty)
    (mismatches(expected.base.map { case (t, n) => t -> (n, "created", n, "initial-load") }, 0L) ++
      Option.when(marts.size != 7 || marts.values.exists(_ <= 0))(s"gold marts $marts") ++
      expected.gold.toSeq.sorted.flatMap { case (m, n) =>
        Option.when(marts.get(m) != Some(n))(s"gold $m ${marts.get(m)} != $n")
      }).headOption
  }

  override def check(i: Int): Option[String] = {
    val d = expected.deltas(delta(i))
    mismatches(d.map { case (t, (c, n)) => t -> (c + n, "appended", c + n, "merged") },
      d.get("customer").map(_._2).getOrElse(0L)).headOption
  }

  override def cleanup(i: Int): Unit = FileTree.delete(callDir(i))

  override def callCounts: Map[String, Double] = Map(
    "etl.BronzeIngest.rows" -> report.bronze.map(_.rows).sum.toDouble,
    "etl.SilverScd2.staged_rows" -> report.silver.map(_.staged).sum.toDouble,
    "actions.delivered_rows" -> sink.batches.map(_.size).sum.toDouble,
    "bench.restore_s" -> restoreS)

  override def setupFigures: Map[String, Double] = setupRows
}

/** One call is one pass over a fixed list of registered queries, each
  * written through the `noop` sink so every output column is computed.
  * Set-up warms the maintained artifacts the list consumes. A query's
  * result must digest the same in every pass. */
final class QueryMix(spark: SparkSession, root: Path, tracer: Tracer) extends Workload {
  val names: Seq[String] = Seq(
    "q01_pricing_summary", "q08_customer_analytics", "q12_scd2_classify",
    "q22_dedup_minhash_lsh", "q41_sessionize", "q42_salted_join",
    "q28_text_quality")
  private val dir = root.resolve("data").toString
  private var warm = Map.empty[String, Double]
  private val fingerprints = scala.collection.mutable.Map.empty[String, String]

  // Per-pass CPU still falls ~30% from the second pass to the third while
  // the JIT settles, so two passes are warm-up. A fixed number of warm
  // passes keeps every run's median at the same positions.
  override def warmup: Int = 2
  override def warmCalls: Int = 3

  override def setup(): Unit = {
    val (w, s) = Tracer.timed(tracer.span("warm")(
      SparkEntry.warmCachesFor(spark, dir, names)))
    warm = w.map { case (a, t) => s"warm.${a}_s" -> t }.toMap + ("warm.s" -> s)
  }

  /** The last pass: per query, its result, digest and seconds. */
  private var pass = Seq.empty[(String, DataFrame, Observation, Double)]

  override def call(i: Int): Unit =
    pass = names.map { name =>
      val obs = Observation()
      val (df, s) = Tracer.timed {
        val df = tracer.span("query.build")(digested(SparkEntry.queries(name)(spark, dir), obs))
        tracer.span("query.plan")(df.queryExecution.executedPlan)
        tracer.span("query.exec")(df.write.format("noop").mode("overwrite").save())
        df
      }
      (name, df, obs, s)
    }

  /** `d` observed with an order-independent digest of its rows, computed
    * as the noop write streams them (a second execution would double the
    * cost of a call): the row count and the sum of a 64-bit hash per row,
    * floating-point values rounded to 6 places so the last-bit noise of a
    * reordered float sum does not count as a change. */
  private def digested(d: DataFrame, obs: Observation): DataFrame = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast("double"), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast("double"), 6))
      case st: StructType =>
        struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
      case _ => c
    }
    val cols = d.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq
    d.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash"))
  }

  override def check(i: Int): Option[String] = pass.flatMap { case (name, df, obs, _) =>
    val m = obs.get
    val fp = s"${df.schema.simpleString}|${m("rows")}|${m("hash")}"
    val ref = fingerprints.getOrElseUpdate(name, fp)
    Option.when(fp != ref)(s"$name digest $fp != $ref")
  }.headOption

  override def callCounts: Map[String, Double] =
    pass.map { case (name, _, _, s) => s"query.${name}_s" -> s }.toMap

  override def setupFigures: Map[String, Double] = warm
}
