package perfbench

import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.ConcurrentLinkedQueue
import graft.core.{ActionRunner, Catalog, ColumnMeta, Compaction, GenericJdbcDialect, LiveJdbc}
import graft.ops.{DeltaSync, Movement, Pipeline, Search}
import graft.sync.DeltaImportPlanner
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one measured phase produced: per-operation latencies, the
  * phase's wall time, and operations attempted and failed.
  */
final case class Measured(latMs: Seq[Double], wallS: Double, attempted: Long, failed: Long)

trait Workload {

  /** Name of the span around one measured operation. */
  def opSpan: String

  /** Generate the inputs under `dir` (fresh on every call) and build
    * what the operations read.
    */
  def setup(dir: String): Unit

  /** Untimed operations on the last set-up inputs, so JIT and Spark
    * code generation are warm before the measurement.
    */
  def warmUp(): Unit

  /** Run operations until `seconds` have passed; calls into the
    * program go through `t`'s spans.
    */
  def measure(seconds: Double, t: Tracer): Measured

  /** Per-layer metrics of this workload from a traced phase. `work` is
    * the run's directory, for outputs checked after the JVM ends.
    */
  def layers(t: Tracer, m: Measured, work: String): Map[String, Double]
}

object Workload {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}
import Workload._

/** `LiveJdbc.execute` with its defaults: TPC-H-shaped tables into a
  * fresh in-memory Derby database per iteration.
  */
final class Migrate(spark: SparkSession) extends Workload {
  val opSpan = "migrate.iteration"
  private val tables = Gen.tpch
  private val keys = Movement.fixtureKeyMeta
  private val rows = tables.map(_.rows).sum
  private var dir = ""
  private var cols: Seq[ColumnMeta] = Nil
  private val iterations = new AtomicInteger(0)
  private val planNs = ArrayBuffer.empty[Double]

  def setup(d: String): Unit = {
    tables.foreach(t => Gen.write(spark, t, s"$d/${t.name}.parquet"))
    dir = d
    cols = Catalog.readParquetColumns(spark, d, "tpch", tables.map(_.name))
  }

  def warmUp(): Unit = iteration(new Tracer(spark.sparkContext))

  /** A phase of `LiveJdbc.execute` that starts inside the program's
    * source-table callback, on whichever thread calls it first.
    */
  private final class Phase(t: Tracer, name: String) {
    @volatile var span: Span = _
    def enter(): Unit = {
      synchronized(if (span == null) span = t.open(name, t.openId))
      t.tag(span)
    }
  }

  /** One migration; returns (statements, failed statements). */
  private def iteration(t: Tracer): (Int, Int) = {
    val db = s"perfbench_${iterations.incrementAndGet()}"
    val t0 = System.nanoTime()
    val planned = t.span("LiveJdbc.plan")(LiveJdbc.plan(cols, keys))
    planNs.synchronized(planNs += (System.nanoTime() - t0).toDouble)
    val load = new Phase(t, "migrate.load")
    val validate = new Phase(t, "migrate.validate")
    // first read of a table is its load, the second its validation
    val reads = new ConcurrentHashMap[String, AtomicInteger]()
    val source = (_: String, table: String) => {
      val n = reads.computeIfAbsent(table, _ => new AtomicInteger()).incrementAndGet()
      (if (n == 1) load else validate).enter()
      spark.read.parquet(s"$dir/$table.parquet")
    }
    val outcomes =
      try t.span("LiveJdbc.execute")(LiveJdbc.execute(spark, s"jdbc:derby:memory:$db;create=true", cols, keys, source))
      finally {
        try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
        catch { case _: SQLException => () } // a successful drop reports itself as an exception
      }
    if (t.enabled) {
      t.drain()
      val exec = t.named("LiveJdbc.execute").last
      val loadEnd = (load.span.own.jobIntervals.map(_._2) :+ load.span.startMs).max
      load.span.endMs = loadEnd
      validate.span.endMs = exec.endMs
    }
    (planned.size, Checks.migrate(planned, outcomes))
  }

  def measure(seconds: Double, t: Tracer): Measured = {
    val lat = ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    val start = System.nanoTime()
    val end = deadline(seconds)
    while (lat.isEmpty || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      val (a, f) = t.span(opSpan)(iteration(t))
      lat += ms(t0)
      attempted += a
      failed += f
    }
    Measured(lat.toSeq, ms(start) / 1000, attempted, failed)
  }

  def layers(t: Tracer, m: Measured, work: String): Map[String, Double] = {
    def durations(n: String) = t.named(n).map(_.durationS)
    val kids = t.all.groupBy(_.parent)
    val writeS = Stats.median(durations("migrate.load"))
    val iterations = t.named(opSpan).map(t.total)
    val moved = rows.toDouble * iterations.size
    Map(
      "plan_s" -> Stats.median(planNs.toSeq) / 1e9,
      "write_s" -> writeS,
      "validate_s" -> Stats.median(durations("migrate.validate")),
      // what execute spends outside load and validation: DDL and the
      // NOT NULL/PK/FK import
      "other_s" -> Stats.median(t.named("LiveJdbc.execute").map(e => e.durationS - kids.getOrElse(e.id, Nil).map(_.durationS).sum)),
      "rows_moved" -> rows.toDouble,
      "write_rows_per_s" -> rows / writeS,
      "rows_scanned_per_row" -> iterations.map(_.recordsRead).sum / moved,
      "bytes_written_per_row" -> iterations.map(_.bytesWritten).sum / moved
    )
  }
}

/** Incremental sync of an orders table: per round, decide the strategy,
  * take the watermark delta, MERGE on the key and commit by whole-dir
  * replacement; after the last round of a pass, validate.
  */
final class Sync(spark: SparkSession, seed: Long) extends Workload {
  val opSpan = "sync.round"
  private val spec = Gen.SyncSpec(seed)
  private val changed = (1 to spec.rounds).map(spec.changedIn)
  private val key = Seq("o_orderkey")
  private var dir = ""
  private val changedApplied = new AtomicLong(0)
  private val planNs = ArrayBuffer.empty[Double]
  private def target = s"$dir/target"
  private def source(v: Int) = spark.read.parquet(s"$dir/source/v$v")

  def setup(d: String): Unit = {
    (0 to spec.rounds).foreach(v => Gen.write(spark, Gen.syncVersion(spec, v), s"$d/source/v$v"))
    dir = d
    reset()
  }

  /** Half a pass: round latency falls over the first few rounds. */
  def warmUp(): Unit = {
    val off = new Tracer(spark.sparkContext)
    (1 to spec.rounds / 2).foreach(round(_, off))
    reset()
  }

  private def reset(): Unit = {
    deleteDir(spark, target)
    Compaction.copyDir(spark, s"$dir/source/v0", target)
  }

  private def round(r: Int, t: Tracer): Unit = {
    val sync = DeltaImportPlanner.TableSync(key, Some("updated_at"), "timestamp", Some(spec.watermark(r - 1)))
    val t0 = System.nanoTime()
    val strategy = t.span("DeltaImportPlanner.decide")(DeltaImportPlanner.decide(sync, GenericJdbcDialect))
    planNs += (System.nanoTime() - t0).toDouble
    require(strategy.isInstanceOf[DeltaImportPlanner.StagedDeltaMerge], s"unexpected strategy $strategy")
    val tgt = spark.read.parquet(target)
    val delta = t.span("DeltaSync.deltaRows")(DeltaSync.deltaRows(source(r), tgt, "updated_at"))
    val merged = t.span("DeltaSync.merge")(DeltaSync.merge(tgt, delta, key))
    t.span("Compaction.replaceWith") {
      Compaction.replaceWith(spark, target)(staged => merged.write.mode("overwrite").parquet(staged))
    }
    changedApplied.addAndGet(changed(r - 1))
  }

  /** Whole passes until `seconds` have passed, so every run validates
    * once per [[Gen.SyncSpec.rounds]] rounds.
    */
  def measure(seconds: Double, t: Tracer): Measured = {
    val lat = ArrayBuffer.empty[Double]
    var failed = 0L
    var untimedNs = 0L
    changedApplied.set(0)
    val start = System.nanoTime()
    val end = deadline(seconds)
    while (lat.isEmpty || System.nanoTime() < end) {
      (1 to spec.rounds).foreach { r =>
        val t0 = System.nanoTime()
        t.span(opSpan)(round(r, t))
        lat += ms(t0)
      }
      val tgt = spark.read.parquet(target)
      val last = source(spec.rounds)
      val deviations = t.span("ActionRunner.validate")(ActionRunner.validate(last, tgt))
      // the exact comparison and the reset for the next pass are untimed
      val c0 = System.nanoTime()
      if (deviations != 0 || Checks.rowDiff(last, tgt) != 0) failed += spec.rounds
      reset()
      untimedNs += System.nanoTime() - c0
    }
    Measured(lat.toSeq, (System.nanoTime() - start - untimedNs) / 1e9, lat.size, failed)
  }

  def layers(t: Tracer, m: Measured, work: String): Map[String, Double] = {
    val kids = t.all.groupBy(_.parent)
    val rounds = t.named(opSpan)
    val totals = rounds.map(t.total)
    val commits = t.named("Compaction.replaceWith").map(_.durationS)
    val applied = changedApplied.get.toDouble
    Map(
      "plan_s" -> Stats.median(planNs.toSeq) / 1e9,
      "write_s" -> Stats.median(commits),
      "validate_s" -> Stats.median(t.named("ActionRunner.validate").map(_.durationS)),
      // a round outside its commit: decide, the lazy delta and merge plans
      "other_s" -> Stats.median(rounds.map(r => r.durationS - kids.getOrElse(r.id, Nil).filter(_.name == "Compaction.replaceWith").map(_.durationS).sum)),
      "rows_moved" -> changed.sum.toDouble / changed.size,
      "write_rows_per_s" -> applied / commits.sum,
      "rows_scanned_per_row" -> totals.map(_.recordsRead).sum / applied,
      "bytes_written_per_row" -> totals.map(_.bytesWritten).sum / applied
    )
  }
}

/** Serving: a closed loop of [[SearchServe.Clients]] callers sends the
  * seeded query stream to the persisted search index of a generated
  * corpus. A traced run also refines the corpus once with
  * `Pipeline.pipelineFull`; the DuckDB oracle checks that output after
  * the JVM ends.
  */
final class SearchServe(spark: SparkSession, seed: Long) extends Workload {
  import SearchServe._
  val opSpan = "search.query"
  private val spec = Gen.CorpusSpec(seed)
  private var dir = ""
  private def index = s"$dir/index"
  private val next = new AtomicLong(0)
  private val indexNs = ArrayBuffer.empty[Double]
  private val planNs = new ConcurrentLinkedQueue[Double]()
  private val hits = new ConcurrentLinkedQueue[Double]()
  private val checkNs = ArrayBuffer.empty[Double]

  def setup(d: String): Unit = {
    Gen.write(spark, Gen.corpus(spec), s"$d/documents.parquet")
    val t0 = System.nanoTime()
    Search.saveSearchIndex(spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text", s"$d/index")
    indexNs += (System.nanoTime() - t0).toDouble
    dir = d
  }

  /** The stream's first [[WarmUpQueries]] queries. */
  def warmUp(): Unit = callers(new Tracer(spark.sparkContext), _ < WarmUpQueries)

  /** [[Clients]] callers, each taking the stream's next query while
    * `more(index)` holds; returns every query served with its index in
    * the stream, its hits (none if it threw) and its latency.
    */
  private def callers(t: Tracer, more: Long => Boolean): Seq[(Long, Gen.Query, Option[Seq[Row]], Double)] = {
    val served = new ConcurrentLinkedQueue[(Long, Gen.Query, Option[Seq[Row]], Double)]()
    val threads = (1 to Clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (more(i)) {
          val q = Gen.query(spec, i)
          val t0 = System.nanoTime()
          val rows =
            try Some(t.span(opSpan)(serve(q, t)))
            catch { case e: Exception => System.err.println(s"[perfbench] query $i failed: $e"); None }
          served.add((i, q, rows, ms(t0)))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    served.asScala.toSeq
  }

  private def serve(q: Gen.Query, t: Tracer): Seq[Row] = {
    val t0 = System.nanoTime()
    val df = t.span(s"Search.${q.kind}FromIndex") {
      q.kind match {
        case "or" => Search.disjunctiveFromIndex(spark, index, q.terms, K)
        case "and" => Search.conjunctiveFromIndex(spark, index, q.terms, K)
        case "phrase" => Search.phraseFromIndex(spark, index, q.terms)
      }
    }
    planNs.add((System.nanoTime() - t0).toDouble)
    df.collect().toSeq
  }

  /** The brute-force route of the same query over the corpus. */
  private def bruteForce(q: Gen.Query): Seq[Row] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    (q.kind match {
      case "or" => Search.disjunctiveSearch(docs, "doc_id", "text", q.terms, K)
      case "and" => Search.conjunctiveSearch(docs, "doc_id", "text", q.terms, K)
      case "phrase" => Search.phraseSearch(docs, "doc_id", "text", q.terms)
    }).collect().toSeq
  }

  /** Serves until `seconds` have passed. Then, untimed, the phase's
    * first query of each kind is checked against the brute-force route;
    * a mismatch fails that query.
    */
  def measure(seconds: Double, t: Tracer): Measured = {
    val end = deadline(seconds)
    val start = System.nanoTime()
    val served = callers(t, _ => System.nanoTime() < end)
    val wallS = ms(start) / 1000
    val ok = served.collect { case (i, q, Some(rows), _) => (i, q, rows) }
    ok.foreach(x => hits.add(x._3.size.toDouble))
    val wrong = ok.groupBy(_._2.kind).values.map(_.minBy(_._1)).count { case (_, q, rows) =>
      val c0 = System.nanoTime()
      val same = Checks.sameRows(rows, bruteForce(q))
      checkNs += (System.nanoTime() - c0).toDouble
      !same
    }
    Measured(served.map(_._4), wallS, served.size, served.size - ok.size + wrong)
  }

  /** `Pipeline.pipelineFull` over the corpus, once: its per-language
    * accounting is written to `work`/refine.json with the oracle SQL,
    * and the run script compares it with DuckDB.
    */
  private def refine(t: Tracer, work: String): Double = {
    val t0 = System.nanoTime()
    val rows = t.span("Pipeline.pipelineFull")(Pipeline.pipelineFull(spark, dir).collect())
    val s = (System.nanoTime() - t0) / 1e9
    val out = new java.io.PrintWriter(s"$work/refine.json", "UTF-8")
    try out.println(
      Json.value(
        Map(
          "documents" -> s"$dir/documents.parquet",
          "sql" -> graft.SparkEntry.oracleSql("pipeline_full"),
          "columns" -> rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil),
          "rows" -> rows.map(_.toSeq.map(String.valueOf)).toSeq
        )
      )
    )
    finally out.close()
    s
  }

  def layers(t: Tracer, m: Measured, work: String): Map[String, Double] = {
    val queries = t.named(opSpan).map(t.total)
    val served = m.latMs.size.toDouble
    val hitsPerQuery = hits.asScala.sum / hits.size
    val indexS = Stats.median(indexNs.toSeq) / 1e9
    Map(
      "plan_s" -> Stats.median(planNs.asScala.toSeq) / 1e9,
      "write_s" -> indexS,
      "validate_s" -> Stats.median(checkNs.toSeq) / 1e9,
      "other_s" -> refine(t, work),
      "rows_moved" -> hitsPerQuery,
      "write_rows_per_s" -> spec.docs / indexS,
      "rows_scanned_per_row" -> queries.map(_.recordsRead).sum / (hitsPerQuery * served),
      "bytes_written_per_row" -> queries.map(_.bytesWritten).sum / (hitsPerQuery * served)
    )
  }
}

object SearchServe {
  val Clients = 4
  val K = 10
  val WarmUpQueries = 8
}
