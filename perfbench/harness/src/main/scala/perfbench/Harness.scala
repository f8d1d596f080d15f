package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one benchmark workload in one JVM and writes `result.json`.
  *
  * Usage: `perfbench.Harness <plan.tsv>`, or `perfbench.Harness --list
  * <file>` to write the query registry. The plan is written by `run.py`;
  * each line is tab-separated:
  *   - `set <key> <value>`: `workload`, `data` (table directory), `out`
  *     (result directory), `passes`, `trace` (0/1), `spawn_ms` (epoch ms at
  *     which the JVM was launched), `setup_reps`, `warehouse` (the graft
  *     catalogs' warehouse directory);
  *   - `fixture sql <sql>` or `fixture query <name>`: a set-up statement,
  *     or a registry query run with a `noop` write as program warm-up;
  *   - `warm <kind> <name> <table> <payload>`: a warm-up op, shaped like
  *     `op`, run untimed after the first of several set-ups;
  *   - `op <kind> <name> <table> <payload>`: one op. `query` runs registry
  *     query `name` followed by a `noop` write; `read` collects the rows of
  *     SQL `payload`; `write` runs SQL `payload`. `table` names the table a
  *     write changes (or `-`); `{v:<table>:<k>}` in a payload stands for the
  *     version of `table` after its k-th write (0 = after set-up);
  *   - `dump <label> <sql>`: after the timed region, the rows of `sql` are
  *     written as parquet under `<out>/check/<label>` for the output check.
  *
  * The timed region runs all ops in order, `passes` times. Before it, each
  * registry query runs once untimed with its result written for the output
  * check; that run is also the query's warm-up.
  */
object Harness {
  final case class Op(kind: String, name: String, table: String,
                      payload: String)

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def epochMs(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--list")) list(Paths.get(args(1)))
    else run(Paths.get(args(0)))

  /** Writes the query registry as `<name>\t<oracle SQL or empty>` lines. */
  def list(to: Path): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(to, graft.SparkEntry.queries.keys.toSeq.sorted
      .map(n => n + "\t" + oracles.getOrElse(n, "").replaceAll("\\s+", " "))
      .mkString("", "\n", "\n"))
  }

  def run(plan: Path): Unit = {
    val lines = Files.readAllLines(plan).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val conf = lines.collect { case Seq("set", k, v) => k -> v }.toMap
    val fixtures = lines.collect { case Seq("fixture", k, v) => (k, v) }
    val ops = lines.collect { case Seq("op", k, n, t, p) => Op(k, n, t, p) }
    val warm = lines.collect { case Seq("warm", k, n, t, p) => Op(k, n, t, p) }
    val dumps = lines.collect { case Seq("dump", l, sql) => l -> sql }
    val out = Paths.get(conf("out"))
    Files.createDirectories(out)
    val res = new Json.Obj
    val spawn = conf.get("spawn_ms").map(_.toDouble).getOrElse(t0Epoch)
    val reps = conf.get("setup_reps").map(_.toInt).getOrElse(1)
    val samples = new Json.Arr
    res("jvm_s") = (t0Epoch - spawn) / 1e3
    res("setup_s") = samples

    // Set-up, `reps` times: session start plus fixtures. The first
    // one also counts the JVM start. After the first, the warm-up ops run
    // untimed on its fixtures. Between two, the session stops and the
    // tables are dropped from disk.
    var spark: SparkSession = null
    for (r <- 0 until reps) {
      val from = if (r == 0) spawn else epochMs()
      spark = graft.GraftSession.build("perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      fixtures.foreach {
        case ("query", name) => graft.SparkEntry.queries(name)(spark, conf("data"))
          .write.format("noop").mode("overwrite").save()
        case (_, sql) => spark.sql(sql).collect()
      }
      samples += (epochMs() - from) / 1e3
      if (r < reps - 1) {
        if (r == 0)
          new Run(spark, conf, warm, 1, None, out.resolve("warm")).timed(new Json.Obj)
        spark.stop()
        wipe(Paths.get(conf("warehouse")))
      }
    }
    val tracer =
      if (conf.get("trace").contains("1")) {
        val tr = new Tracer
        spark.sparkContext.addSparkListener(tr)
        spark.listenerManager.register(tr)
        Some(tr)
      } else None
    new Run(spark, conf, ops, conf("passes").toInt, tracer, out).timed(res)
    dumps.foreach { case (label, sql) =>
      spark.sql(sql).write.mode("overwrite")
        .parquet(out.resolve("check").resolve(label).toString)
    }
    Files.writeString(out.resolve("result.json"), res.render)
    spark.stop()
  }

  private def wipe(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** The timed region and everything recorded about it. */
  final class Run(spark: SparkSession, conf: Map[String, String],
                  ops: Seq[Op], passes: Int, tracer: Option[Tracer], out: Path) {
    private val sc = spark.sparkContext
    private val data = conf("data")
    private val queries = graft.SparkEntry.queries
    private val versions = mutable.HashMap.empty[(String, Int), Long]
    private val writes = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    private val heap = new HeapAfterGc
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val jit = Option(ManagementFactory.getCompilationMXBean)
    private def gcMs = gcBeans.map(_.getCollectionTime).sum
    private def jitMs = jit.map(_.getTotalCompilationTime).getOrElse(0L)

    private val tables = new Manifests(Paths.get(conf("warehouse")))

    private val VersionRe = "\\{v:([A-Za-z0-9_]+):(\\d+)\\}".r
    private def bind(sql: String): String =
      VersionRe.replaceAllIn(sql, m =>
        versions((m.group(1), m.group(2).toInt)).toString)

    def timed(res: Json.Obj): Unit = {
      ops.map(_.table).filter(_ != "-").distinct.foreach { tb =>
        versions((tb, 0)) = tables.sync(tb)._1
      }
      val recs = new Json.Arr
      val checkDir = out.resolve("check")
      var timedNs = 0L
      var n = 0
      // every output check before the timed region: the check run is each
      // query's warm-up, and with all of them first no timed query runs
      // with colder shared code than another, whatever the seeded order
      ops.filter(_.kind == "query").map(_.name).distinct.foreach(check(_, checkDir))
      heap.start()
      for (pass <- 0 until passes; op <- ops) {
        val rec = runOp(n, op)
        timedNs += (rec("lat_s").asInstanceOf[Double] * 1e9).toLong
        rec("pass") = pass
        recs += rec
        n += 1
      }
      heap.stop()
      res("timed_s") = timedNs / 1e9
      res("passes") = passes
      res("ops_run") = n
      res("peak_heap_mb") = heap.peakMb
      res("ops") = recs
      res("tables") = {
        val o = new Json.Obj
        versions.keys.map(_._1).toSeq.distinct.sorted.foreach { tb =>
          o(tb) = tables.bytes(tb)
        }
        o
      }
    }

    /** The output check run of a registry query: its rows as parquet, as
      * the correctness dump of the library writes them. */
    private def check(name: String, dir: Path): Unit = {
      sc.setJobGroup("pb-check", name, false)
      try queries(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(name).toString)
      catch { case e: Throwable =>
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(name + ".error"), msg(e))
      }
      finally { sc.clearJobGroup(); graft.ops.OrderedOps.clearPins() }
    }

    private def msg(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName)
        .replaceAll("\\s+", " ").take(300)

    private def runOp(i: Int, op: Op): Json.Obj = {
      val rec = new Json.Obj
      rec("i") = i; rec("name") = op.name; rec("kind") = op.kind
      val sql = if (op.kind == "query") "" else bind(op.payload)
      tracer.foreach { tr => tr.currentOp = i; tr.resetPeak() }
      val gc0 = gcMs; val jit0 = jitMs
      val startMs = epochMs()
      var buildNs = 0L
      var rows = -1L
      val s = System.nanoTime()
      try op.kind match {
        case "query" =>
          sc.setJobGroup(s"pb-$i-build", op.name, false)
          val df: DataFrame = queries(op.name)(spark, data)
          buildNs = System.nanoTime() - s
          sc.setJobGroup(s"pb-$i-exec", op.name, false)
          df.write.format("noop").mode("overwrite").save()
        case "read" =>
          sc.setJobGroup(s"pb-$i-sql", op.name, false)
          val got = spark.sql(sql).collect()
          rows = got.length
          rec("result") = new Json.Arr(got.toSeq.map(r =>
            new Json.Arr(r.toSeq.map(v => if (v == null) null else v.toString))))
        case _ =>
          sc.setJobGroup(s"pb-$i-sql", op.name, false)
          spark.sql(sql).collect()
      } catch { case e: Throwable =>
        rec("error") = msg(e)
      }
      val lat = (System.nanoTime() - s) / 1e9
      val endMs = epochMs()
      sc.clearJobGroup()
      rec("lat_s") = lat
      rec("ok") = !rec.contains("error")
      if (op.kind == "query") graft.ops.OrderedOps.clearPins()
      if (op.kind == "write" && op.table != "-") {
        writes(op.table) += 1
        val (v, added, removed) = tables.sync(op.table)
        versions((op.table, writes(op.table))) = v
        rec("files_added") = added
        rec("files_removed") = removed
      }
      tracer.foreach { tr =>
        org.apache.spark.PerfbenchBus.drain(sc)
        rec("t0_ms") = startMs; rec("t1_ms") = endMs
        rec("build_s") = buildNs / 1e9
        if (rows >= 0) rec("rows_out") = rows
        rec("gc_ms") = gcMs - gc0
        rec("jit_ms") = jitMs - jit0
        rec("cache_peak_bytes") = tr.peakCachedBytes
        // RDDs still persisted after the op and clearPins (unpersisting is
        // immediate in this registry; freeing the blocks is asynchronous)
        rec("cache_after_bytes") = tr.cachedBytes(sc.getPersistentRDDs.keySet)
        val (jobs, stages, qes) = tr.take(i)
        rec("jobs") = new Json.Arr(jobs.map { j =>
          Json.Obj("id" -> j.id, "phase" -> j.phase, "start" -> j.start,
            "end" -> j.end, "stages" -> new Json.Arr(j.stageIds))
        })
        rec("stages") = new Json.Arr(stages.map { st =>
          Json.Obj("id" -> st.id, "start" -> st.start, "end" -> st.end,
            "tasks" -> st.tasks, "scan_tasks" -> st.scanTasks,
            "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs,
            "shuffle_write" -> st.shuffleWrite,
            "shuffle_read" -> st.shuffleRead, "spill" -> st.spill,
            "in_bytes" -> st.inBytes, "in_records" -> st.inRecords,
            "out_bytes" -> st.outBytes)
        })
        rec("qes") = new Json.Arr(qes.map { q =>
          val ph = new Json.Obj
          q.phases.toSeq.sortBy(_._1).foreach { case (k, (a, b)) =>
            ph(k) = new Json.Arr(Seq(a, b)) }
          Json.Obj("phases" -> ph, "plan_hash" -> q.planHash, "ok" -> q.ok)
        })
        tr.currentOp = -1
      }
      rec
    }
  }

  /** Follows the snapshot manifests (`<table>/_snapshots/vNNNNNNNN.json`)
    * of the tables under a catalog warehouse, to report each commit's
    * version and the data files it added and removed. A manifest holds
    * either the complete `files` list or `add`/`remove` lists against its
    * parent; deletion-vector sidecars (`dv`, `dvSet`) count as files. */
  final class Manifests(warehouse: Path) {
    private val live = mutable.HashMap.empty[String, Set[String]]
    private val seen = mutable.HashMap.empty[String, Long]
    private val Name = "v(\\d{8})\\.json".r
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    private def versions(table: String): Seq[Long] = {
      val dir = warehouse.resolve(table).resolve("_snapshots").toFile
      Option(dir.list()).toSeq.flatten
        .collect { case Name(v) => v.toLong }.sorted
    }

    /** (latest version, files added, files removed) since the last call. */
    def sync(table: String): (Long, Int, Int) = {
      var added = 0; var removed = 0
      val from = seen.getOrElse(table, -1L)
      val vs = versions(table).filter(_ > from)
      vs.foreach { v =>
        val n = mapper.readTree(warehouse.resolve(table).resolve("_snapshots")
          .resolve(f"v$v%08d.json").toFile)
        def items(f: String) = Option(n.get(f)).toSeq
          .flatMap(a => (0 until a.size()).map(a.get))
        def paths(f: String): Set[String] =
          items(f).map(x => if (x.isTextual) x.asText() else x.get("p").asText()).toSet
        val before = live.getOrElse(table, Set.empty[String])
        val after =
          if (n.has("files")) paths("files") ++ paths("dv")
          else before ++ paths("add") ++ paths("dvSet") -- paths("remove")
        added += (after -- before).size
        removed += (before -- after).size
        live(table) = after
        seen(table) = v
      }
      (seen.getOrElse(table, 0L), added, removed)
    }

    def bytes(table: String): Long = {
      val root = warehouse.resolve(table)
      if (!Files.exists(root)) 0L
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }
    }
  }

  /** The largest heap in use right after a collection, over the GCs that
    * end between `start` and `stop`. */
  final class HeapAfterGc {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo

    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    private val heapNames = heapPools.map(_.getName).toSet
    @volatile private var on = false
    @volatile private var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (on && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapNames(k) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }

    def start(): Unit = {
      emitters.foreach(_.addNotificationListener(listener, null, null))
      on = true
    }

    def stop(): Unit = {
      on = false
      emitters.foreach(e =>
        try e.removeNotificationListener(listener) catch { case _: Exception => () })
      if (peak == 0L) // no collection in the region: the last one before it
        peak = heapPools.flatMap(p => Option(p.getCollectionUsage))
          .map(_.getUsed).sum
    }

    def peakMb: Double = peak / (1024.0 * 1024.0)
  }
}
