package servebench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftEngine, GraftSession}
import graft.api.{GraftHttpServer, ResultFormatter}
import graft.planner.PathResolver
import graft.queries.{GraphEr, Pipeline, TpcH}
import graft.semantics.SqlUnparser

/** JVM half of the served-path benchmark. `run.py` generates every request from
  * the seed and checks every answer; this program only replays the requests it
  * is handed and records what it saw.
  *
  *   - `catalog <out.json>`: the TPC-H texts, oracles and manifest, and the
  *     curation entries' oracles, for the generator and the checker.
  *   - `module-options`: the JVM options Spark's launcher passes, one a line.
  *   - `run <plan.json> <out.json>`: one workload run. Sets up a SparkSession
  *     and an in-process [[GraftHttpServer]], deploys every manifest, warms up,
  *     then sends the timed requests from closed-loop clients. With `trace` on,
  *     the same timed requests are also replayed through the calls the v3 route
  *     handler makes, with spans around each call and one SparkListener keyed
  *     by job group.
  */
object ServeBench {

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => writeJson(out, catalog)
    case "module-options" :: Nil =>
      // the JVM options Spark's own launcher adds on JDK 17+; build.py reads them
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().foreach(println)
    case "run" :: plan :: out :: Nil =>
      // Spark and the HTTP server keep non-daemon threads alive: exit explicitly
      try writeJson(out, new Runner(JsonMethods.parse(new String(Files.readAllBytes(Paths.get(plan)), UTF_8))).run())
      catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
      sys.exit(0)
    case _ =>
      System.err.println("usage: ServeBench catalog <out.json> | module-options | run <plan.json> <out.json>")
      sys.exit(2)
  }

  private def writeJson(path: String, v: JValue): Unit =
    Files.write(Paths.get(path), JsonMethods.compact(v).getBytes(UTF_8))

  private def strMap(m: Iterable[(String, String)]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })

  def catalog: JValue = JObject(
    "tpch_sql" -> strMap(TpcH.defs.map { case (n, (_, sql)) => n -> sql }),
    "tpch_oracle" -> strMap(TpcH.oracles),
    "tpch_manifest" -> graft.mdl.ManifestJson.toJValue(TpcH.manifest),
    "entry_oracle" -> strMap(Pipeline.oracles ++ GraphEr.oracles))
}

/** One request of the plan. `route` is a v3 connector route (`query`, `dry-plan`,
  * `metadata/schemas` for deploys) or `entry` for an in-process entry run.
  */
final case class Req(
    id: Int, route: String, body: String, headers: Map[String, String],
    manifest: Int, sql: String, dialect: String, entry: String)

object Req {
  def parse(j: JValue): Req = {
    def s(k: String) = j \ k match { case JString(v) => v; case _ => "" }
    val body = s("body")
    val bodyJ = if (body.isEmpty) JNothing else JsonMethods.parse(body)
    def b(k: String) = bodyJ \ k match { case JString(v) => v; case _ => "" }
    Req(
      id = (j \ "id").asInstanceOf[JInt].num.toInt,
      route = s("route"), body = body,
      headers = (j \ "headers") match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      },
      manifest = j \ "manifest" match { case JInt(i) => i.toInt; case _ => -1 },
      sql = b("sql"), dialect = b("dialect"), entry = s("entry"))
  }
}

/** In-memory span recorder. A span is (request, name, parent index, start, end);
  * spans are appended on one thread and written out when the run ends.
  */
final class Spans {
  private val reqs = ArrayBuffer.empty[Int]
  private val names = ArrayBuffer.empty[String]
  private val parents = ArrayBuffer.empty[Int]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]
  private var open = List.empty[Int]

  def apply[T](req: Int, name: String)(f: => T): T = {
    val idx = reqs.length
    reqs += req; names += name; parents += open.headOption.getOrElse(-1)
    starts += System.nanoTime(); ends += -1L
    open = idx :: open
    try f
    finally {
      ends(idx) = System.nanoTime()
      open = open.tail
    }
  }

  def toJson: JValue = JArray(reqs.indices.toList.map(i => JArray(List(
    JInt(reqs(i)), JString(names(i)), JInt(parents(i)), JInt(starts(i)), JInt(ends(i))))))
}

/** The benchmark's one SparkListener: jobs, stages and task metrics summed per
  * job group (one group per traced request).
  */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, shuffleWriteBytes, spillBytes = 0L
    def toJson: JValue = JObject(
      "jobs" -> JInt(jobs), "stages" -> JInt(stages), "tasks" -> JInt(tasks),
      "task_ms" -> JInt(runMs), "task_cpu_ns" -> JInt(cpuNs),
      "shuffle_write_bytes" -> JInt(shuffleWriteBytes), "spill_bytes" -> JInt(spillBytes))
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, Acc]
  private def acc(g: String) = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def toJson: JValue = synchronized {
    JObject(groups.asScala.toList.sortBy(_._1).map { case (g, a) => g -> a.toJson })
  }
}

final class Runner(plan: JValue) {
  private def str(k: String) = plan \ k match { case JString(v) => v; case o => sys.error(s"plan.$k: $o") }
  private def int(k: String) = plan \ k match { case JInt(v) => v.toInt; case o => sys.error(s"plan.$k: $o") }
  private def reqs(k: String) = plan \ k match {
    case JArray(vs) => vs.map(Req.parse).toVector
    case o => sys.error(s"plan.$k: $o")
  }

  private val workload = str("workload")
  private val dataDir = str("data_dir")
  private val cores = int("cores")
  private val partitions = int("shuffle_partitions")
  private val clients = int("clients")
  private val warmupClients = int("warmup_clients")
  private val bridge = int("bridge")
  private val trace = int("trace") == 1
  private val manifests = plan \ "manifests" match {
    case JArray(vs) => vs.collect { case JString(s) => s }.toVector
    case _ => Vector.empty
  }
  private val deploys = reqs("deploys")
  private val warmup = reqs("warmup")
  private val timed = reqs("timed")

  private val entries = graft.SparkEntry.queries

  def run(): JValue = {
    val spark = SparkSession.builder()
      .appName("servebench").master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // Spark's code cache holds 100 generated classes by default, about as
      // many as curate_batch's entries generate. Which ones it evicted then
      // varied from run to run (0 to 360 recompiles over a timed run), and the
      // entries' latencies by ±20% with it. Sized so that the classes fit.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", str("local_dir"))
      .config("spark.sql.warehouse.dir", str("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkReadyMs = uptimeMs()

    val server = new GraftHttpServer(spark, dataDir, 0, Paths.get(str("profiles_dir")))
    val port = server.start()
    val http = new Http(port)
    val deployMs = deploys.map { r =>
      val t0 = System.nanoTime()
      val res = http.send(r)
      if (res._1 != 200) sys.error(s"deploy of manifest ${r.manifest} answered ${res._1}: ${res._2.take(300)}")
      (System.nanoTime() - t0) / 1e6
    }
    val setupEnd = java.time.Instant.now()

    // The last `bridge` warm-up requests run after the full GC, from the timed
    // run's own client count: the GC lets Spark's ContextCleaner drop the
    // warm-up's shuffles and persisted blocks, and on curate_batch that work
    // and the switch to one client made the first timed pass ~20% slower.
    val (early, late) = warmup.splitAt(warmup.length - bridge)
    val warm0 = System.nanoTime()
    val earlyRecords = replay(spark, http, early, warmupClients)
    settle()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val warmRecords = earlyRecords ++ replay(spark, http, late, clients)
    val warmupS = (System.nanoTime() - warm0) / 1e9

    val sessionsBefore = Runner.serverSessions(server)
    val probe = new Probe
    // A fresh client: the timed requests' connections then start in the same
    // TCP state on every run, whatever the warm-up's callers left in the pool
    // (the server's replies stall on delayed ACKs depending on that state).
    val records = replay(spark, new Http(port), timed, clients)
    val timedProbe = probe.finish()
    val serverDeploys = Runner.deploysBetween(sessionsBefore, Runner.serverSessions(server))
    settle()
    val rddsAfter = spark.sparkContext.getPersistentRDDs.size
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val traced = tracer.map(_.run()).getOrElse(JNothing)

    val out = JObject(
      "workload" -> JString(workload),
      "spark" -> JObject(
        "version" -> JString(spark.version),
        "master" -> JString(spark.sparkContext.master),
        "conf" -> JObject(spark.conf.getAll.toList.sortBy(_._1)
          .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
            k == "spark.default.parallelism" }
          .map { case (k, v) => k -> JString(v) })),
      "jvm" -> JObject(
        "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
        "heap_init_mb" -> JDouble(heap.getInit / 1048576.0),
        "live_heap_mb" -> JDouble(heap.getUsed / 1048576.0),
        "processors" -> JInt(Runtime.getRuntime.availableProcessors),
        "vm" -> JString(System.getProperty("java.vm.version"))),
      "setup" -> JObject(
        "spark_ready_ms" -> JDouble(sparkReadyMs),
        "deploy_ms" -> JArray(deployMs.map(JDouble(_)).toList),
        "end_epoch_us" -> JInt(setupEnd.getEpochSecond * 1000000L + setupEnd.getNano / 1000)),
      "warmup" -> JObject(
        "wall_s" -> JDouble(warmupS),
        "records" -> Runner.recordsJson(warmRecords)),
      "timed" -> (timedProbe merge JObject(
        "records" -> Runner.recordsJson(records),
        "persisted_rdds_before" -> JInt(rddsBefore),
        "persisted_rdds_after" -> JInt(rddsAfter),
        "server_deploys" -> JInt(serverDeploys))),
      "bodies" -> Runner.bodiesJson(warmRecords ++ records ++ tracer.toSeq.flatMap(_.outputs)),
      "trace" -> traced)
    server.stop()
    spark.stop()
    out
  }

  private def uptimeMs(): Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  /** Full GC, time for Spark's ContextCleaner to drop the RDDs of collected
    * DataFrames, then a full GC again so that the blocks it released are not
    * read as live heap. Persisted-RDD counts and live heap are then comparable.
    */
  private def settle(): Unit = { System.gc(); Thread.sleep(500); System.gc() }

  /** Closed loop: each client takes the next request only after its previous
    * reply has arrived. Requests are dealt round-robin so every run sends the
    * same requests from the same client.
    */
  private def replay(spark: SparkSession, http: Http, rs: Vector[Req], n: Int): Vector[Rec] = {
    val out = new Array[Rec](rs.length)
    val threads = (0 until n).map { c =>
      new Thread(() => {
        var i = c
        while (i < rs.length) {
          out(i) = execute(spark, http, rs(i), c)
          i += n
        }
      }, s"servebench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toVector
  }

  private def execute(spark: SparkSession, http: Http, r: Req, client: Int): Rec = {
    val t0 = System.nanoTime()
    try {
      if (r.route == "entry") {
        val obs = Observation(s"rows_${r.id}_$client")
        entries(r.entry)(spark, dataDir).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        val rows = obs.get("n").toString
        Rec(r.id, client, 200, t0, t1, rows.length, rows)
      } else {
        val (code, body) = http.send(r)
        Rec(r.id, client, code, t0, System.nanoTime(), body.getBytes(UTF_8).length, body)
      }
    } catch {
      case e: Exception =>
        Rec(r.id, client, -1, t0, System.nanoTime(), 0, s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** The traced replay: same timed requests, through the calls the route makes. */
  private final class Tracer(spark: SparkSession) {
    private val spans = new Spans
    private val listener = new GroupListener
    private val sessions = scala.collection.mutable.Map.empty[String, GraftSession]
    private val flags = ArrayBuffer.empty[JValue]
    val outputs = ArrayBuffer.empty[Rec]

    /** The session properties the route derives from a request's headers. */
    private def properties(r: Req): Map[String, String] = r.headers.collect {
      case (k, v) if k.toLowerCase.startsWith("x-wren-variable-") =>
        k.toLowerCase.stripPrefix("x-wren-variable-") -> v
      case (k, v) if k.equalsIgnoreCase("x-wren-timezone") => "timezone" -> v
    }

    private def session(r: Req): GraftSession = {
      val m = manifests(r.manifest)
      val props = properties(r)
      val base = sessions.getOrElseUpdate(m, GraftEngine.deployJson(spark, m, new PathResolver(dataDir), props))
      spans(r.id, "engine.session")(base.withExactProperties(props))
    }

    private def one(r: Req): Unit = spans(r.id, "request") {
      spark.sparkContext.setJobGroup(s"req-${r.id}", "servebench", interruptOnCancel = false)
      try r.route match {
        case "entry" =>
          val df = spans(r.id, "operators.build")(entries(r.entry)(spark, dataDir))
          spans(r.id, "operators.exec")(df.write.format("noop").mode("overwrite").save())
        case route =>
          val sess = session(r)
          val (h0, _) = sess.planCacheStats
          val df = spans(r.id, "engine.query")(sess.query(r.sql))
          val (h1, _) = sess.planCacheStats
          val body =
            if (route == "query") spans(r.id, "api.format")(ResultFormatter.toJsonResponse(df, 1000))
            else {
              val qe = df.queryExecution
              val optimized = spans(r.id, "engine.reoptimize")(spark.sessionState.optimizer.execute(qe.analyzed))
              spans(r.id, "semantics.unparse")(SqlUnparser.unparse(
                optimized, qe.analyzed.output.map(_.name), SqlUnparser.dialectFor(r.dialect)))
            }
          val out = Rec(r.id, 0, 200, 0L, 0L, body.getBytes(UTF_8).length, body)
          outputs += out
          flags += JObject("id" -> JInt(r.id), "plan_cache_hit" -> JBool(h1 > h0),
            "bytes" -> JInt(out.bytes), "digest" -> JString(out.digest))
      } finally spark.sparkContext.clearJobGroup()
    }

    def run(): JValue = {
      // The traced sessions are deployed like the server's. Warm-up requests
      // whose SQL the timed run repeats are replayed once, so these sessions'
      // plan caches hold what the server's held; the JIT is already warm.
      deploys.foreach(session)
      val repeated = timed.map(_.sql).toSet
      warmup.filter(r => r.sql.nonEmpty && repeated(r.sql)).groupBy(r => (r.manifest, r.sql)).values
        .map(_.minBy(_.id)).toSeq.sortBy(_.id).foreach(one)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      timed.foreach(one)
      val wallNs = System.nanoTime() - t0
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      JObject(
        "wall_ns" -> JInt(wallNs),
        "spans" -> spans.toJson,
        "flags" -> JArray(flags.toList),
        "groups" -> listener.toJson)
    }
  }
}

/** One executed request as the client saw it. `detail` is the body (or the
  * observed row count for an entry), or the error text.
  */
final case class Rec(id: Int, client: Int, status: Int, startNs: Long, endNs: Long, bytes: Int, detail: String) {
  lazy val digest: String =
    MessageDigest.getInstance("SHA-256").digest(detail.getBytes(UTF_8)).map("%02x".format(_)).mkString
}

object Runner {
  /** The server's manifest -> session cache, read by reflection so that deploys
    * inside the timed run can be counted without a hook in the server. None when
    * the server keeps no such map (the count is then reported as -1).
    */
  def serverSessions(server: GraftHttpServer): Option[Map[AnyRef, AnyRef]] =
    classOf[GraftHttpServer].getDeclaredFields
      .find(f => f.getName.endsWith("sessions") && classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
      .map { f =>
        f.setAccessible(true)
        f.get(server).asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.toMap
      }

  /** Sessions deployed between two snapshots: entries added or replaced. */
  def deploysBetween(before: Option[Map[AnyRef, AnyRef]], after: Option[Map[AnyRef, AnyRef]]): Int =
    (before, after) match {
      case (Some(b), Some(a)) => a.count { case (k, v) => !b.get(k).exists(_ eq v) }
      case _ => -1
    }

  def recordsJson(rs: Seq[Rec]): JValue = JArray(rs.toList.map(r => JArray(List(
    JInt(r.id), JInt(r.client), JInt(r.status), JInt(r.startNs), JInt(r.endNs),
    JInt(r.bytes), JString(r.digest)))))

  /** Each distinct answer once, keyed by digest, for the checker. */
  def bodiesJson(rs: Seq[Rec]): JValue = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    rs.foreach(r => seen.getOrElseUpdate(r.digest, r.detail))
    JObject(seen.toList.map { case (d, b) => d -> JString(b) })
  }
}

/** Process, GC and host readings over an interval. */
final class Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def psiUs: Long =
    try {
      val some = Files.readAllLines(Paths.get("/proc/pressure/cpu")).asScala
        .find(_.startsWith("some")).getOrElse("")
      some.split(' ').find(_.startsWith("total=")).map(_.drop(6).toLong).getOrElse(-1L)
    } catch { case _: Exception => -1L }
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegens = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val t0 = System.nanoTime()
  private val cpu0 = os.getProcessCpuTime
  private val gc0 = gcMs
  private val jit0 = jitMs
  private val codegen0 = codegens
  private val psi0 = psiUs

  def finish(): JValue = {
    val psi1 = psiUs
    val load =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(' ')(0).toDouble
      catch { case _: Exception => -1.0 }
    JObject(
      "wall_ns" -> JInt(System.nanoTime() - t0),
      "cpu_ns" -> JInt(os.getProcessCpuTime - cpu0),
      "gc_ms" -> JInt(gcMs - gc0),
      "jit_ms" -> JInt(jitMs - jit0),
      "codegen_compiles" -> JInt(codegens - codegen0),
      "cpu_pressure_us" -> JInt(if (psi0 < 0 || psi1 < 0) -1L else psi1 - psi0),
      "loadavg_1m" -> JDouble(load))
  }
}

/** Blocking HTTP/1.1 client shared by the closed-loop client threads. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def send(r: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v3/connector/spark/${r.route}"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(r.body))
    r.headers.foreach { case (k, v) => b.header(k, v) }
    val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (res.statusCode, res.body)
  }
}
