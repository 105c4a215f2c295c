package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fia.{EstimateCarbon, FiaAnnualize, Ids, Incremental, Pipeline, SyntheticState, Tidy}
import graft.ops.Layout

/** Seeded FIA states. A state of ~n plots is the subset of a 4n-plot
  * synthetic pool (organic survey gaps 3/5/5/7/9) whose plot ids hash,
  * with the seed and a tag, into one of four buckets: the seed changes
  * which plots appear, not how a plot is shaped, so the size
  * distribution is the same for every seed. */
object FiaInputs {
  val tables = Seq("PLOT", "PLOTGEOM", "COND", "TREE")
  private val gaps = Seq(3, 5, 5, 7, 9)

  /** Plot number of a raw row (PLOTGEOM only carries the survey CN,
    * which the generator builds as plot * 10 + survey). */
  def plotOf(table: String): Column =
    if (table == "PLOTGEOM") expr("CN div 10") else col("PLOT").cast("long")

  def state(spark: SparkSession, plots: Int, seed: Long, tag: String): Map[String, DataFrame] =
    SyntheticState.tables(spark, 4 * plots, gaps).map { case (t, df) =>
      t -> df.filter(pmod(xxhash64(plotOf(t), lit(seed), lit(tag)), lit(4L)) === 0)
    }

  def write(state: Map[String, DataFrame], dir: String): Unit =
    state.foreach { case (t, df) => df.write.parquet(s"$dir/$t") }

  def read(spark: SparkSession, dir: String): Map[String, DataFrame] =
    tables.map(t => t -> spark.read.parquet(s"$dir/$t")).toMap

  /** Both mortality variants unioned, split back into the map the sink
    * takes. */
  def byVariant(both: DataFrame): Map[String, DataFrame] =
    Seq("midpt", "mortyr").map(v => v -> both.filter(col("variant") === v).drop("variant")).toMap

  /** A written pipeline output read back as the union `Incremental`
    * maintains (`variant` and `STATECD` come back from the directory
    * names; STATECD is a string in the pipeline's schema). */
  def readOutput(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).withColumn("STATECD", col("STATECD").cast("string"))

  /** Persist and materialize: the exec half of a traced layer call. */
  def force(t: Tracer, layer: String, df: DataFrame): DataFrame =
    t.span(s"$layer.exec") {
      val c = df.persist()
      t.attr(s"$layer.rows_out", c.count().toDouble)
      c
    }
}

/** The full-state build (`scripts/state-parquet.R`): raw tables ->
  * `Pipeline.runBucketed` (both variants) -> `Pipeline.writeParquet`. */
object FiaBuildOp {
  def apply(ctx: Run, raw: => Map[String, DataFrame], stage: String, out: String,
      traced: Boolean): Unit =
    if (!traced) Pipeline.writeParquet(Pipeline.runBucketed(ctx.spark, raw, stage), out)
    else tracedBuild(ctx, raw, stage, out)

  /** The calls `runBucketed` + `writeParquet` make, one span each; each
    * boundary is forced (persisted) after the whole plan is built, so
    * every call analyses the same input plan as in the untraced build
    * and the next layer's execution reads the forced result. */
  private def tracedBuild(ctx: Run, rawTables: => Map[String, DataFrame], stage: String,
      out: String): Unit = {
    import ctx.{spark, tracer}
    val raw = tracer.span("fia.load")(rawTables)
    val tidy = tracer.span("fia.tidy.plan")(Tidy.fiaTidy(raw))
    val interp = tracer.span("fia.expand.plan")(FiaAnnualize.expandInterpolate(spark, tidy))
    val tidyC = FiaInputs.force(tracer, "fia.tidy", tidy)
    val interpC = FiaInputs.force(tracer, "fia.expand", interp)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tbl = s"graft_pipeline_annual_${math.abs(stage.hashCode)}"
    tracer.span("layout.stage_write") {
      Layout.writeBucketed(interp, tbl, stage, "tree_ID", n, Some("YEAR"))
      tracer.attr("layout.stage_bytes", Files.bytes(stage).toDouble)
    }
    val annual = spark.table(tbl)
    val variants = Seq("midpt" -> false, "mortyr" -> true).map { case (v, useMortyr) =>
      val m = tracer.span("fia.mortality.plan")(FiaAnnualize.adjustMortality(annual, useMortyr))
      val e = tracer.span("fia.nsvb.plan")(EstimateCarbon.fiaEstimate(spark, m))
      val r = tracer.span("fia.ids.plan")(Ids.splitCompositeIds(e))
      (v, m, e, r)
    }
    val forced = variants.flatMap { case (_, m, e, _) =>
      Seq(FiaInputs.force(tracer, "fia.mortality", m), FiaInputs.force(tracer, "fia.nsvb", e))
    }
    tracer.span("fia.sink.write") {
      Pipeline.writeParquet(variants.map { case (v, _, _, r) => v -> r }.toMap, out)
      tracer.attr("fia.sink.bytes", Files.bytes(out).toDouble)
    }
    (Seq(tidyC, interpC) ++ forced).foreach(_.unpersist())
  }
}

/** `fia_build`: the paper's per-state job at the sf0.1 tier. Each op
  * stages a fresh ~6,000-plot state (outside the timed region) and
  * times one [[FiaBuildOp]]. */
final class FiaBuild(ctx: Run) extends Workload {
  import ctx.spark
  val plots = 6000

  def run(): Unit = {
    ctx.warmup {
      val in = ctx.path("warm/in")
      FiaInputs.write(FiaInputs.state(spark, 600, ctx.seed, "warm"), in)
      FiaBuildOp(ctx, FiaInputs.read(spark, in), ctx.path("warm/stage"), ctx.path("warm/out"),
        traced = false)
    }
    var i = 0
    while (ctx.nextRound()) {
      val (in, stage, out) = (ctx.path(s"in/op$i"), ctx.path(s"stage/op$i"), ctx.path(s"out/op$i"))
      ctx.stage(FiaInputs.write(FiaInputs.state(spark, plots, ctx.seed, s"build$i"), in))
      val (_, rec) = ctx.op("build", "build")(traced =>
        FiaBuildOp(ctx, FiaInputs.read(spark, in), stage, out, traced))
      Files.delete(stage)
      rec("rows_out") = spark.read.parquet(out).count()
      rec("check") = Map("type" -> "fia", "raw" -> in, "out" -> out)
      i += 1
    }
    ctx.facts("plots_per_build") = plots
  }
}

/** `fia_delivery`: one ~600-plot state is split into a base snapshot
  * and up to `maxDeliveries` yearly deliveries; each op merges the next
  * delivery into the previous output with `Incremental.merge` and writes
  * the result with `Pipeline.writeParquet`.
  *
  * A plot's bucket `b = pmod(xxhash64(plot, seed, "dlv"), 1000)` decides
  * its role: delivery j (1-based) brings the whole of the plots with
  * b in [30(j-1), 30(j-1)+15) (new plots) and the latest survey of the
  * plots with b in [30(j-1)+15, 30j) (a survey added to an existing
  * plot) — ~3% of the plots per delivery. Raw rows are staged once,
  * tagged with their delivery `__dlv` (0 = base). */
final class FiaDelivery(ctx: Run) extends Workload {
  import ctx.{spark, tracer}
  val plots = 600
  val maxDeliveries = 12

  private def stageRaw(dir: String): Unit = {
    val full = FiaInputs.state(spark, plots, ctx.seed, "delivery")
    val latest = full("PLOT").groupBy(FiaInputs.plotOf("PLOT").as("__p"))
      .agg(max(col("INVYR")).as("__mx"))
    full.foreach { case (t, df) =>
      val b = pmod(xxhash64(FiaInputs.plotOf(t), lit(ctx.seed), lit("dlv")), lit(1000L))
      val (slot, within) = (b.divide(30).cast("int") + 1, pmod(b, lit(30L)))
      val dlv = when(slot <= maxDeliveries &&
          (within < 15 || col("INVYR") === col("__mx")), slot).otherwise(0)
      df.join(broadcast(latest), FiaInputs.plotOf(t) === col("__p"))
        .withColumn("__dlv", dlv).drop("__p", "__mx")
        .write.parquet(s"$dir/$t")
    }
  }

  /** Raw tables after delivery `upTo` (exactly delivery `upTo` when
    * `only`). */
  private def raw(dir: String, upTo: Int, only: Boolean = false): Map[String, DataFrame] =
    FiaInputs.tables.map { t =>
      val df = spark.read.parquet(s"$dir/$t")
      t -> df.filter(if (only) col("__dlv") === upTo else col("__dlv") <= upTo).drop("__dlv")
    }.toMap

  private def deliver(dir: String, j: Int, prev: String, out: String, traced: Boolean): Unit =
    if (!traced) {
      val merged = Incremental.merge(spark, FiaInputs.readOutput(spark, prev), raw(dir, j),
        Incremental.dirtyPlotIds(raw(dir, j, only = true)))
      Pipeline.writeParquet(FiaInputs.byVariant(merged), out)
    } else tracedDeliver(dir, j, prev, out)

  /** The public calls `Incremental.merge` makes (dirty set, restriction,
    * the `Pipeline.run` layers of `bothVariants`), one span each, plus
    * the two inline steps of `merge` (anti-join the old output, union)
    * and of `Pipeline.run` (re-rooting the persisted kernel output). */
  private def tracedDeliver(dir: String, j: Int, prev: String, out: String): Unit = {
    val (old, full, batch) = tracer.span("fia.load")(
      (FiaInputs.readOutput(spark, prev), raw(dir, j), raw(dir, j, only = true)))
    val dirty = tracer.span("fia.incr.dirty.plan")(Incremental.dirtyPlotIds(batch))
    val dirtyC = FiaInputs.force(tracer, "fia.incr.dirty", dirty)
    val restricted = tracer.span("fia.incr.restrict.plan")(Incremental.restrictToDirty(full, dirtyC))
    val tidy = tracer.span("fia.tidy.plan")(Tidy.fiaTidy(restricted))
    val interp = tracer.span("fia.expand.plan")(FiaAnnualize.expandInterpolate(spark, tidy))
    val tidyC = FiaInputs.force(tracer, "fia.tidy", tidy)
    val interpC = FiaInputs.force(tracer, "fia.expand", interp)
    val reroot = spark.createDataFrame(interpC.rdd, interpC.schema)
    val variants = Seq("midpt" -> false, "mortyr" -> true).map { case (v, useMortyr) =>
      val m = tracer.span("fia.mortality.plan")(FiaAnnualize.adjustMortality(reroot, useMortyr))
      val e = tracer.span("fia.nsvb.plan")(EstimateCarbon.fiaEstimate(spark, m))
      val r = tracer.span("fia.ids.plan")(Ids.splitCompositeIds(e))
      (v, m, e, r)
    }
    val forced = variants.flatMap { case (_, m, e, _) =>
      Seq(FiaInputs.force(tracer, "fia.mortality", m), FiaInputs.force(tracer, "fia.nsvb", e))
    }
    val merged = tracer.span("fia.incr.merge.plan") {
      val recomputed = variants.map { case (v, _, _, r) => r.withColumn("variant", lit(v)) }
        .reduce(_ unionByName _)
      val d = broadcast(dirtyC)
      old.join(d, old("plot_ID") === d("plot_ID"), "left_anti").unionByName(recomputed)
    }
    val mergedC = FiaInputs.force(tracer, "fia.incr.merge", merged)
    tracer.span("fia.sink.write") {
      Pipeline.writeParquet(FiaInputs.byVariant(mergedC), out)
      tracer.attr("fia.sink.bytes", Files.bytes(out).toDouble)
    }
    (Seq(dirtyC, tidyC, interpC, mergedC) ++ forced).foreach(_.unpersist())
  }

  def run(): Unit = {
    val dir = ctx.path("raw")
    ctx.stage(stageRaw(dir))
    val base = ctx.path("out/d0")
    val (_, rec) = ctx.warmup(ctx.op("build", "base")(traced =>
      FiaBuildOp(ctx, raw(dir, 0), ctx.path("stage"), base, traced)))
    rec("check") = Map("type" -> "fia", "raw" -> dir, "upto" -> 0, "out" -> base)
    var j = 1
    while (j <= maxDeliveries && ctx.nextRound()) {
      val (prev, out) = (ctx.path(s"out/d${j - 1}"), ctx.path(s"out/d$j"))
      val (_, rec) = ctx.op("delivery", "merge")(traced => deliver(dir, j, prev, out, traced))
      rec("rows_out") = spark.read.parquet(out).count()
      rec("check") = Map("type" -> "fia_delivery", "raw" -> dir, "upto" -> j,
        "prev" -> prev, "out" -> out)
      j += 1
    }
    ctx.facts("plots_in_state") = plots
  }
}
