package medbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.medbench.ListenerBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, HashDump, SparkEntry}
import graft.etl.CuratedLayer

/** The run that run.py hands to the JVM, as JSON. `source` lists the
  * source table's files in landing order (base, then one file per CDC
  * increment); `cycles` is the CDC cycles per round. A catalog run has
  * no source: it runs every `catalogEvery`-th catalog query (by query
  * number), in an order shuffled by `catalogSeed`, over the tables in
  * `data`, after a warmup pass of the same queries over the tables in
  * `warmData`.
  */
final class Config(node: JsonNode) {
  private def strs(k: String) = node.get(k).elements.asScala.map(_.asText).toSeq
  val traced: Boolean = node.get("trace").asInt == 1
  val seconds: Double = node.get("seconds").asDouble
  val work: String = node.get("work").asText
  val source: Seq[String] = strs("source")
  val cycles: Int = node.get("cycles").asInt
  val refreshes: Int = node.get("refreshes").asInt
  val year: Int = node.get("year").asInt
  val catalogEvery: Int = node.get("catalog_every").asInt
  val catalogSeed: Long = node.get("catalog_seed").asLong
  val data: String = node.get("data").asText
  val warmData: String = node.get("warm_data").asText
  val result: String = node.get("result").asText
}

/** Drives one benchmark run: set up once (timed from JVM start), then
  * run closed-loop units until `seconds` have passed. A unit is one
  * round of CDC cycles over a copy of the base zone, or one pass over
  * the catalog queries. Each cycle is timed from the increment landing
  * to the dashboards served; the dashboards are then refreshed
  * `refreshes - 1` more times. Checks run outside every timed span. In
  * a traced run, units alternate untraced and traced (at least three),
  * so the tracing overhead is measured in the same run.
  *
  * The JVM only observes: it writes every span, counter and check
  * value to `result`, and run.py judges correctness and computes the
  * metrics.
  */
final class Run(cfg: Config) {
  private val t = new Tracer
  private val groups = new GroupListener
  private val storage = new StorageListener
  private val spark: SparkSession = GraftSession.defaultBuilder()
    .config("spark.local.dir", s"${cfg.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
    .getOrCreate()
  private val base = new Zones(s"${cfg.work}/zones/base")
  private val catalog: Seq[String] =
    if (cfg.catalogEvery <= 0) Nil
    else new scala.util.Random(cfg.catalogSeed).shuffle(SparkEntry.queries.keys.toSeq
      .filter(Run.number(_) % cfg.catalogEvery == 0).sortBy(Run.number))
  // warmup executions that failed: reported as failed operations, never skipped
  private val setupErrors = new JList[AnyRef]()

  private def asOf(cycle: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(86400L * cycle))

  /** The set-up, timed from JVM start to the first timed operation:
    * session start, then the catalog's warmup pass over the warmup
    * tables, or the first load and serve of the base zone the CDC
    * rounds start from.
    */
  private def setup(): JMap[String, AnyRef] = {
    val t0 = System.nanoTime() - (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(storage)
    if (cfg.traced) spark.sparkContext.addSparkListener(groups)
    val t1 = System.nanoTime()
    catalog.foreach { q =>
      try Run.catalogDigest(spark, q, cfg.warmData)
      catch { case NonFatal(e) => setupErrors.add(Run.obj("op" -> s"warmup.$q", "error" -> Run.describe(e))) }
    }
    val t2 = System.nanoTime()
    if (catalog.isEmpty) {
      val m = new Medallion(spark, new Tracer)
      m.land(base, cfg.source.take(1), None, 0, asOf(0))
      m.serve(base, 0, cfg.year, plans = false).foreach(_.result match {
        case Left(e) => throw e
        case _ =>
      })
    }
    val t3 = System.nanoTime()
    Run.obj("start_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "base_load_s" -> (t3 - t2) / 1e9, "setup_s" -> (t3 - t0) / 1e9)
  }

  private def checks(z: Zones, v: Int): JMap[String, AnyRef] = {
    val staged = spark.read.parquet(z.staging).count()
    val fact = spark.read.parquet(z.table(v, "fact_sales"))
      .agg(count(lit(1)), sum("total_sales")).head()
    Run.obj("staged_rows" -> staged, "fact_rows" -> fact.getLong(0),
      "total_sales" -> Option(fact.getDecimal(1)).map(_.toPlainString).orNull,
      "distinct_dates" -> spark.read.parquet(z.table(v, "dim_date")).count())
  }

  /** Counts only a traced run reports: the attribute tuples the SCD2
    * dims are built from, and the raw zone's rows and files.
    */
  private def tracedCounts(z: Zones): JMap[String, AnyRef] = {
    val staging = spark.read.parquet(z.staging)
    Run.obj(
      "product_tuples" -> CuratedLayer.dimProductSource(staging).count(),
      "store_tuples" -> CuratedLayer.dimStoreSource(staging).count(),
      "raw_rows" -> spark.read.parquet(z.raw).count(),
      "raw_files" -> Run.files(z.raw).count(_.getFileName.toString.startsWith("part-")))
  }

  private def served(s: Served, refresh: Int, dump: Boolean): JMap[String, AnyRef] = {
    val o = Run.obj("name" -> s.name, "refresh" -> refresh, "span" -> s.spanId,
      "seconds" -> s.seconds, "broadcasts" -> s.broadcasts)
    s.result match {
      case Left(e) => o.put("error", Run.describe(e))
      case Right((schema, rows)) =>
        val rendered = rows.toSeq.map(Run.render)
        o.put("digest", Run.digest(rendered))
        o.put("row_count", Int.box(rows.length))
        if (dump) {
          o.put("schema", Run.list(schema))
          o.put("rows", Run.list(rendered.map(Run.list(_))))
        }
    }
    o
  }

  private def etlUnit(u: Int, traced: Boolean): JMap[String, AnyRef] = {
    val z = new Zones(s"${cfg.work}/zones/u$u")
    Run.delete(z.root)
    Run.copy(base.root, z.root)
    val m = new Medallion(spark, t)
    val cycles = new JList[AnyRef]()
    var k = 1
    var failed = false
    while (!failed && k <= cfg.cycles) {
      t.cycle = k
      val files = cfg.source.take(k + 1)
      val before = Run.snapshot(z.root)
      var ingested = 0L
      var serves = Seq.empty[Served]
      val error =
        try {
          t.span("cycle") {
            ingested = m.land(z, files, Some(k - 1), k, asOf(k))
            serves = m.serve(z, k, cfg.year, traced)
          }
          None
        } catch { case NonFatal(e) => failed = true; Some(Run.describe(e)) }
      val cycleSpan = t.spans.last
      val refreshes = if (failed) Nil
        else (2 to cfg.refreshes).map(r => r -> m.serve(z, k, cfg.year, traced))
      val after = Run.snapshot(z.root)
      val written = after.collect { case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size }.sum
      val live = z.live(k).map(d => Run.snapshot(d).values.map(_._1).sum).sum
      val c = Run.obj("cycle" -> k, "span" -> cycleSpan.id, "seconds" -> cycleSpan.seconds,
        "ingested" -> ingested, "bytes_written" -> written, "zone_bytes" -> live,
        "source_files" -> files.size)
      error.foreach(c.put("error", _))
      if (!failed) {
        try {
          c.put("check", checks(z, k))
          if (traced) c.put("traced_counts", tracedCounts(z))
        } catch { case NonFatal(e) => c.put("check_error", Run.describe(e)) }
      }
      val dump = u == 0
      c.put("serves", Run.list(serves.map(served(_, 1, dump)) ++
        refreshes.flatMap { case (r, ss) => ss.map(served(_, r, dump = false)) }))
      cycles.add(c)
      k += 1
    }
    // round 0 stays on disk so run.py can check the dashboards against it
    if (u > 0) Run.delete(z.root)
    Run.obj("unit" -> u, "traced" -> traced, "zone_root" -> z.root, "cycles" -> cycles)
  }

  /** One pass over the catalog queries, in the configured order. Each
    * query is timed through one action that renders every output cell
    * into the digest of [[HashDump.digestFrame]]; a query that throws,
    * or whose column types have no digest, is a failed execution.
    * Files the queries write go to their scratch directories under
    * `java.io.tmpdir`, which run.py points into the run's work dir.
    */
  private def catalogUnit(u: Int, traced: Boolean): JMap[String, AnyRef] = {
    t.cycle = 1
    val scratch = System.getProperty("java.io.tmpdir")
    val before = Run.snapshot(scratch)
    val queries = new JList[AnyRef]()
    t.span("catalog") {
      catalog.foreach { q =>
        val o = Run.obj("name" -> q)
        try {
          val d = t.span(q)(Run.catalogDigest(spark, q, cfg.data))
          o.put("digest", Run.list(Seq(d.getString(0), d.getString(1), d.getString(2))))
          o.put("row_count", Long.box(d.getLong(3)))
        } catch { case NonFatal(e) => o.put("error", Run.describe(e)) }
        o.put("span", Int.box(t.spans.last.id))
        o.put("seconds", Double.box(t.spans.last.seconds))
        queries.add(o)
      }
    }
    val pass = t.spans.last
    val after = Run.snapshot(scratch)
    val written = after.collect { case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size }.sum
    val left = after.collect { case (p, (size, _)) if !before.contains(p) => size }.sum
    Run.obj("unit" -> u, "traced" -> traced, "cycles" -> Run.list(Seq(Run.obj(
      "cycle" -> 1, "span" -> pass.id, "seconds" -> pass.seconds, "bytes_written" -> written,
      "zone_bytes" -> left, "serves" -> queries))))
  }

  private def unit(u: Int): JMap[String, AnyRef] = {
    val traced = cfg.traced && u % 2 == 1
    t.tag = traced
    t.unit = u
    if (catalog.nonEmpty) catalogUnit(u, traced) else etlUnit(u, traced)
  }

  def run(): JMap[String, AnyRef] = {
    val setupTimes = setup()
    val sc = spark.sparkContext
    t.sc = Some(sc)
    ListenerBus.drain(sc)
    storage.reset()
    val start = System.nanoTime()
    val units = new JList[AnyRef]()
    var u = 0
    // a traced run measures untraced, traced, untraced units: the first
    // unit still carries JIT warm-up, so the overhead compares the
    // traced unit with the untraced one after it
    while (u < (if (cfg.traced) 3 else 1) || (System.nanoTime() - start) / 1e9 < cfg.seconds) {
      units.add(unit(u))
      u += 1
    }
    ListenerBus.drain(sc)
    val spans = Run.list(t.spans.toSeq.map { s =>
      val o = Run.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "unit" -> s.unit,
        "cycle" -> s.cycle, "start_s" -> (s.startNs - start) / 1e9,
        "end_s" -> (s.endNs - start) / 1e9, "self_s" -> t.selfSeconds(s))
      val c = new Counters
      (s +: t.descendants(s.id)).foreach(d => c += groups.of(Tracer.group(d.id)))
      o.put("counters", Run.obj("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_s" -> c.runMs / 1e3, "gc_s" -> c.gcMs / 1e3, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "bytes_written" -> c.bytesOut, "records_written" -> c.recordsOut))
      o
    })
    val env = Run.obj("cores" -> GraftSession.availableCores,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version, "master" -> sc.master)
    val result = Run.obj("env" -> env, "setup" -> setupTimes, "setup_errors" -> setupErrors,
      "cache_peak_bytes" -> storage.peak, "units" -> units, "spans" -> spans,
      "sql" -> Run.obj((if (catalog.isEmpty) Medallion.dashboard(cfg.year)
        else catalog.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))): _*))
    spark.stop()
    result
  }
}

object Run {
  /** The catalog number of a query name: 45 for `q45_tpch_q3`. */
  def number(query: String): Int = query.drop(1).takeWhile(_.isDigit).toInt

  /** Runs catalog query `q` over the tables in `dir` through one action
    * that renders every output cell into [[HashDump.digestFrame]]'s
    * digest row: (a, b, sorted column names, row count).
    */
  def catalogDigest(spark: SparkSession, q: String, dir: String): Row =
    HashDump.digestFrame(SparkEntry.queries(q)(spark, dir))
      .getOrElse(throw new IllegalStateException("no digest for the result's column types"))
      .head()

  def obj(pairs: (String, Any)*): JMap[String, AnyRef] = {
    val o = new JMap[String, AnyRef]()
    pairs.foreach { case (k, v) => o.put(k, v.asInstanceOf[AnyRef]) }
    o
  }

  def list(xs: Iterable[Any]): JList[AnyRef] = {
    val l = new JList[AnyRef]()
    xs.foreach(x => l.add(x.asInstanceOf[AnyRef]))
    l
  }

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}".take(500)

  /** Cells as strings: decimals in plain notation, doubles in Java's
    * round-trip rendering, NULL as null.
    */
  def render(r: Row): Seq[String] = r.toSeq.map {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Order-independent digest of a result, to compare refreshes. */
  def digest(rows: Seq[Seq[String]]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.map(c => if (c == null) "\u0002" else c).mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** path -> (size, mtime) of every file under `dir`. */
  def snapshot(dir: String): Map[String, (Long, Long)] =
    files(dir).map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val cfg = new Config(mapper.readTree(new File(args(0))))
    try mapper.writeValue(new File(cfg.result), new Run(cfg).run())
    catch {
      // Spark's non-daemon threads would keep a failed JVM alive
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
  }
}
