package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Fs, Similarity, Upsert}
import graft.plans.LakehouseSql
import graft.streaming.Streams

/** `lakehouse_mixed`: a versioned table (one long key `id`, payload
  * `a`, `b`, `s` and an 8-float embedding), range-clustered over 64
  * files, with an ANN index kept current by the streaming maintainer.
  * Each wave mixes small commits (SQL MERGE, UPDATE, DELETE and a DV
  * delete, each at most a thousand keys inside a few files, so on the
  * driver-local fast paths), reads (current aggregate,
  * `graft_table` time travel, `graft_cdf`), an ANN probe and
  * maintenance (ANN sync, VACUUM); every third wave also carries, after
  * its probe, a bulk MERGE above both fast-path thresholds and an
  * OPTIMIZE (the next wave's ANN sync absorbs them).
  *
  * Keys: row i of the table has id = 8i + pmod(xxhash64(i, seed), 8);
  * inserts take the spare slots 8i + (that + k) mod 8, k = 1..5, so the
  * seed decides which keys exist, not how many.
  *
  * Correctness, outside the timed region: after every commit the
  * table's digest (row count and summed row hash, read through SQL)
  * must equal the digest of an expected state maintained with plain
  * DataFrame operations; reads must return the digest recorded for
  * their version (CDF: of the expected inserts and deletes); probes
  * must equal a probe of an index fitted from scratch on the expected
  * live rows with the same centroids and codebook. */
final class LakehouseMixed(ctx: Run) extends Workload {
  import ctx.{spark, tracer}
  val rows = 24000
  val files = 64
  val dim = 8
  val smallKeys = 1000
  private val cols = Seq("id", "a", "b", "s", "embedding")
  private val rowHash = xxhash64(cols.map(col): _*).cast("decimal(38,0)")
  private def h(c: Column*) = xxhash64((c :+ lit(ctx.seed)): _*)

  /** Rows for table positions `i` at generation `g`; key slot `shift`
    * > 0 picks one of each position's spare keys. */
  private def gen(i: DataFrame, g: Int, shift: Int = 0): DataFrame = {
    val slot = pmod(h(col("i")), lit(8L)) + shift
    i.select((col("i") * 8 + pmod(slot, lit(8L))).as("id"))
      .select(col("id"),
        pmod(h(col("id"), lit(g), lit("a")), lit(1000L)).as("a"),
        (pmod(h(col("id"), lit(g), lit("b")), lit(100000L)) / 100.0).as("b"),
        concat(lit("row-"), hex(h(col("id"), lit(g), lit("s")))).as("s"),
        array((0 until dim).map(d =>
          ((pmod(h(col("id"), lit(g), lit(d)), lit(2001L)) - 1000) / 1000.0).cast("float")): _*)
          .as("embedding"))
  }
  private def positions(lo: Long, hi: Long, step: Long = 1) =
    spark.range(lo, hi, step).toDF("i")

  private var tbl = ""
  private var idx = ""
  private var maintainer: org.apache.spark.sql.streaming.StreamingQuery = _
  /** Expected state after each version (plain DataFrame operations on
    * the previous one, cached lazily) and its digest once checked. */
  private val states = mutable.Map.empty[Long, DataFrame]
  private def expected: DataFrame = states(states.keys.max)
  private val history = mutable.Map.empty[Long, (Long, BigDecimal)]
  /** Checks of this wave's reads and probes, run after its last timed
    * op so no check job runs between timed operations. */
  private val checks = mutable.ArrayBuffer.empty[() => Unit]

  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(rowHash)).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
  private def digestSql(src: String) =
    s"SELECT count(*), sum(CAST(xxhash64(${cols.mkString(", ")}) AS DECIMAL(38,0))) FROM $src"
  private def fromRow(r: Row): (Long, BigDecimal) =
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))

  private def current: Long = Streams.currentSnapshot(tbl).get.split("/v").last.toLong

  /** Stage the table: v0 written range-clustered, key manifest
    * stamped, CURRENT published. */
  private def stageTable(dir: String): Unit = {
    tbl = s"$dir/table"; idx = s"$dir/ann"
    gen(positions(0, rows), 0).repartitionByRange(files, col("id"))
      .sortWithinPartitions("id").write.parquet(s"$tbl/v0")
    Upsert.writeManifestSidecar(spark, s"$tbl/v0", "id")
    Fs.writeTextAtomic(Fs.of(tbl, spark), new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
  }

  /** v0's change feed, the ANN index over it and its maintainer. */
  private def stageIndex(): Unit = {
    Upsert.materializeCdf(spark, tbl, 0L)
    val corpus = spark.read.parquet(s"$tbl/v0").select("id", "embedding")
    AnnIndex.write(corpus, centroids, codebook(corpus), idx, source = Some((tbl, "id")))
    maintainer = Streams.annIndexMaintainer(spark, tbl, idx, ctx.path("ann_ck"))
    maintainer.processAllAvailable()
  }

  private lazy val centroids: DataFrame =
    gen(positions(0, 16), 7).select(col("id").as("cid"), col("embedding")).localCheckpoint()
  private var cb: Array[Array[Array[Float]]] = _
  private def codebook(corpus: DataFrame) = {
    if (cb == null) cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 4, codes = 16)
    cb
  }
  private lazy val queries: DataFrame =
    gen(positions(rows, rows + 16), 9).select(col("id").as("qid"), col("embedding")).localCheckpoint()

  private def want(v: Long): (Long, BigDecimal) = history.getOrElseUpdate(v, digest(states(v)))

  /** Versions this wave's commits published, with their op records. */
  private val published = mutable.ArrayBuffer.empty[(mutable.LinkedHashMap[String, Any], Long)]

  /** Record the expected state of the version a commit published; the
    * table read back at that version must match it. */
  private def expect(rec: mutable.LinkedHashMap[String, Any], next: DataFrame): Unit = {
    val v = current
    states(v) = next.persist()
    published += ((rec, v))
  }

  /** Run the wave's deferred checks, digesting every published version
    * of the table in one query and every expected state in another;
    * keep only the newest expected state. */
  private def runChecks(): Unit = {
    val fresh = states.keys.filterNot(history.contains).toSeq.sorted
    if (fresh.nonEmpty)
      fresh.map(v => states(v).agg(lit(v).as("v"), count(lit(1)), sum(rowHash)))
        .reduce(_ unionByName _).collect()
        .foreach(r => history(r.getLong(0)) = fromRow(Row(r.getLong(1), r.getDecimal(2))))
    if (published.nonEmpty) {
      val got = spark.sql(published.map { case (_, v) =>
        s"SELECT CAST($v AS BIGINT) AS v, * FROM (${digestSql(s"graft_table('$tbl', $v)")})"
      }.mkString(" UNION ALL "))
        .collect().map(r => r.getLong(0) -> fromRow(Row(r.getLong(1), r.getDecimal(2)))).toMap
      published.foreach { case (rec, v) =>
        if (got(v) != want(v)) ctx.fail(rec, s"table state at v$v: ${got(v)} != expected ${want(v)}")
      }
      published.clear()
    }
    checks.foreach(_())
    checks.clear()
    val newest = states.keys.max
    states.keys.filter(_ < newest).toSeq.foreach(v => states.remove(v).foreach(_.unpersist()))
  }

  /** One commit through SQL: `LakehouseSql.parse` (traced separately as
    * the SQL layer's plan time), then the statement. */
  private def sqlCommit(kind: String, verb: String, keys: Long, sql: String,
      next: => DataFrame): Unit = {
    val (stats, rec) = ctx.op(kind, verb) { traced =>
      if (traced) tracer.span("lakehouse_sql.plan")(LakehouseSql.parse(sql))
      tracer.span(s"upsert.$verb") {
        val r = audited(traced, "commit")(spark.sql(sql).collect()(0))
        tracer.attr(s"upsert.$verb.files_copied", r.getLong(0).toDouble)
        tracer.attr(s"upsert.$verb.files_rewritten", r.getLong(1).toDouble)
        r
      }
    }
    commitFacts(rec, verb, keys, stats.getLong(1), stats.getLong(2))
    expect(rec, next)
  }

  /** `Fs.Audit` counts of the metadata operations `body` makes. */
  private def audited[T](traced: Boolean, phase: String)(body: => T): T =
    if (!traced) body
    else {
      Fs.Audit.enable()
      try body
      finally Fs.Audit.disable().foreach { case (k, n) =>
        tracer.attr(s"fs.$phase." + k.replace('/', '.').replace(':', '.'), n.toDouble)
        tracer.attr(s"fs.$phase.ops", n.toDouble)
      }
    }

  /** Which side of the driver-local thresholds (32 files, 100k keys) a
    * commit's inputs fall on, plus its write amplification. */
  private def commitFacts(rec: mutable.LinkedHashMap[String, Any], verb: String, keys: Long,
      filesRewritten: Long, rowsChanged: Long): Unit = {
    rec("fact.keys") = keys
    rec("fact.files_rewritten") = filesRewritten
    rec("fact.rows_changed") = rowsChanged
    rec("fact.fast_path") = keys <= 100000 && filesRewritten <= 32
    if (rec("traced") == true && rowsChanged > 0) {
      val written = filesRewritten * rows.toDouble / files
      tracer.spans.filter(s => s.op == rec("op") && s.name == s"upsert.$verb")
        .foreach(_.add(s"upsert.$verb.write_amp", written / rowsChanged))
    }
  }

  /** Key positions [lo, hi) of a wave's k-th small commit. */
  private def window(wave: Int, k: Int): (Long, Long) = {
    val span = rows / 8
    val lo = ((wave * 5 + k) * 7919L % 8) * span + (wave * 997L % (span - smallKeys))
    (lo, lo + smallKeys)
  }

  /** SQL MERGE of `src` (upsert by `id`). */
  private def merge(kind: String, verb: String, src: DataFrame): Unit = {
    val batch = src.persist()
    batch.createOrReplaceTempView("perfbench_merge_src")
    val before = expected
    sqlCommit(kind, verb, batch.count(),
      s"""MERGE INTO '$tbl' USING (SELECT * FROM perfbench_merge_src) ON id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      before.join(batch.select("id"), Seq("id"), "left_anti").unionByName(batch))
  }

  /** Updates of every other key of window `k` plus inserts into every
    * eighth position's spare slot. */
  private def changes(w: Int, k: Int, g: Int): DataFrame = {
    val (lo, hi) = window(w, k)
    gen(positions(lo, hi, 2), g).unionByName(gen(positions(lo, hi, 8), g, shift = 1))
  }

  /** A bulk MERGE above both fast-path thresholds: the whole table
    * re-delivered as it is plus four new keys per position (spare slots
    * 2-5), ~5 × `rows` keys rewriting every data file. */
  private def bulkMerge(w: Int): Unit = {
    val inserts = (2 to 5).map(k => gen(positions(0, rows), w + 101, shift = k))
    merge("bulk_commit", "bulk_merge", inserts.foldLeft(expected)(_ unionByName _))
  }

  private def dvDelete(w: Int): Unit = {
    val (lo, hi) = window(w, 0)
    val keys = gen(positions(lo, hi, 3), 0).select("id").persist()
    val n = keys.count()
    val (_, rec) = ctx.op("commit", "dv_delete") { traced =>
      tracer.span("upsert.dv_delete") {
        audited(traced, "commit") {
          val v = current
          Upsert.deleteByKeyDV(spark, s"$tbl/v$v", s"$tbl/v${v + 1}", keys, "id")
          Fs.writeTextAtomic(Fs.of(tbl, spark),
            new org.apache.hadoop.fs.Path(tbl, "CURRENT"), s"v${v + 1}")
        }
      }
    }
    val before = expected
    commitFacts(rec, "dv_delete", n, 0, n)
    expect(rec, before.join(keys, Seq("id"), "left_anti"))
  }

  private def read(w: Int, kind: String): Unit = {
    val cur = current
    val (v, sql) = kind match {
      case "current" => (cur, digestSql(s"graft_table('$tbl')"))
      case "time_travel" =>
        val older = Upsert.snapshotVersions(tbl).filter(x => x < cur && states.contains(x))
        val v = older((w * 31 + ctx.seed.toInt).abs % older.size)
        (v, digestSql(s"graft_table('$tbl', $v)"))
      case "cdf" =>
        (cur, s"SELECT _change_type, count(*), sum(CAST(xxhash64(${cols.mkString(", ")}) " +
          s"AS DECIMAL(38,0))) FROM graft_cdf('$tbl', ${cur - 1}, $cur) GROUP BY _change_type")
    }
    val (got, rec) = ctx.op("read", kind) { traced =>
      tracer.span(s"read.$kind") {
        audited(traced, "read") {
          val df = spark.sql(sql)
          val r = df.collect()
          if (traced) {
            val (nFiles, nRows) = ScanStats(df.queryExecution.executedPlan)
            tracer.attr(s"read.$kind.files_scanned", nFiles.toDouble)
            tracer.attr(s"read.$kind.rows_scanned_per_row_returned",
              nRows.toDouble / math.max(1, r.length))
          }
          r
        }
      }
    }
    checks += { () =>
      val expect: Map[String, (Long, BigDecimal)] =
        if (kind != "cdf") Map("" -> want(v))
        else Seq("insert" -> states(v).exceptAll(states(v - 1)),
            "delete" -> states(v - 1).exceptAll(states(v)))
          .map { case (t, d) => d.agg(lit(t), count(lit(1)), sum(rowHash)) }
          .reduce(_ union _).collect()
          .map(r => r.getString(0) -> fromRow(Row(r.getLong(1), r.getDecimal(2))))
          .filter(_._2._1 > 0).toMap
      val have =
        if (kind != "cdf") Map("" -> fromRow(got.head))
        else got.map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      if (have != expect) ctx.fail(rec, s"$kind read at v$v: $have != expected $expect")
    }
  }

  private var fed = 0L

  /** Materialize the change feed of every new version and let the
    * maintainer apply it to the index. */
  private def annSync(): Unit = {
    val cur = current
    ctx.op("maint", "ann_sync") { _ =>
      tracer.span("ann.sync") {
        tracer.attr("ann.sync.lag_versions", (cur - AnnIndex.readStamp(idx).get._2).toDouble)
        ((fed + 1) to cur).foreach(v => Upsert.materializeCdf(spark, tbl, v))
        maintainer.processAllAvailable()
      }
    }
    fed = cur
  }

  private def probe(): Unit = {
    val (got, rec) = ctx.op("ann_probe", "topk_live") { _ =>
      tracer.span("ann.probe")(AnnIndex.topKLive(spark, idx, queries, k = 5, probes = 2).collect())
    }
    val live = expected
    checks += { () =>
      val fit = Similarity.ivfPqTopK(queries, live, centroids, cb, k = 5, probes = 2).collect()
      if (got.toSet != fit.toSet)
        ctx.fail(rec, s"maintained index probe differs from a fresh fit (${got.length} vs ${fit.length} rows)")
    }
  }

  private def optimize(): Unit = {
    val (r, rec) = ctx.op("maint", "optimize") { traced =>
      tracer.span("maint.optimize")(audited(traced, "commit") {
        val r = spark.sql(s"OPTIMIZE '$tbl' BY id TARGET 1 MB").collect()(0)
        tracer.attr("maint.optimize.bytes_rewritten", r.getLong(2).toDouble)
        r
      })
    }
    rec("fact.files_in") = r.getLong(0); rec("fact.files_out") = r.getLong(1)
    expect(rec, expected)
  }

  private def vacuum(): Unit =
    ctx.op("maint", "vacuum") { traced =>
      val before = if (traced) dataFiles() else Set.empty[Any]
      tracer.span("maint.vacuum") {
        spark.sql(s"VACUUM '$tbl' RETAIN 6 SNAPSHOTS").collect()
        if (traced) tracer.attr("maint.vacuum.files_deleted", (before -- dataFiles()).size.toDouble)
      }
    }

  /** Inodes of the table's data files. */
  private def dataFiles(): Set[Any] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(tbl)).iterator()
    val out = mutable.Set.empty[Any]
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".parquet")) out += java.nio.file.Files.getAttribute(p, "unix:ino")
    }
    out.toSet
  }

  private def wave(w: Int): Unit = {
    dvDelete(w)
    merge("commit", "merge", changes(w, 1, w + 1))
    read(w, "current")
    val (ulo, uhi) = window(w, 2)
    val upPred = s"id BETWEEN ${ulo * 8} AND ${uhi * 8} AND a % 3 = 0"
    val beforeUp = expected
    sqlCommit("commit", "update", smallKeys,
      s"UPDATE '$tbl' ON id SET a = a + 1, b = b * 1.5 WHERE $upPred",
      beforeUp.withColumn("b", when(expr(upPred), col("b") * 1.5).otherwise(col("b")))
        .withColumn("a", when(expr(upPred), col("a") + 1).otherwise(col("a"))))
    read(w, "time_travel")
    val (xlo, xhi) = window(w, 3)
    val delPred = s"id BETWEEN ${xlo * 8} AND ${xhi * 8} AND a % 5 = 1"
    val beforeDel = expected
    sqlCommit("commit", "delete", smallKeys,
      s"DELETE FROM '$tbl' ON id WHERE $delPred", beforeDel.filter(!expr(delPred)))
    read(w, "cdf")
    annSync()
    probe()
    if (w % 3 == 0) {
      bulkMerge(w)
      optimize()
    }
    runChecks()
    vacuum()
  }

  def run(): Unit = {
    ctx.stage(stageTable(ctx.path("lake")))
    states(0L) = gen(positions(0, rows), 0).persist()
    try {
      ctx.warmup(stageIndex())
      var w = 1
      while (ctx.nextRound()) {
        // a traced run's untraced round repeats only what is idempotent
        if (ctx.traceOn && w == 2) { read(w, "current"); probe(); runChecks() }
        else wave(w)
        w += 1
      }
    } finally if (maintainer != null) maintainer.stop()
    val compact = ctx.path("compact")
    expected.coalesce(4).write.parquet(compact)
    ctx.facts("bytes_per_live_byte") = Files.bytes(tbl).toDouble / Files.bytes(compact)
    ctx.facts("rows") = rows
    ctx.facts("files") = files
    ctx.facts("small_commit_keys") = smallKeys
    ctx.facts("bulk_merge_keys") = 5 * rows
  }
}

/** Files and rows the file scans of an executed plan read. */
object ScanStats extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  def apply(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    (scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum,
      scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }
}
