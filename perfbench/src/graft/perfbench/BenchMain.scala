package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Base64
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Harness, SparkEntry}
import graft.server.{HttpShim, Json}
import graft.sources.EventsArchiveAdapter

/** One planned request: `key` names the view a revisit returns to. */
final case class Op(id: String, kind: String, method: String, path: String,
    accept: String, body: String, key: String, revisit: Boolean)

object Op {
  def of(v: Any): Op = {
    val o = Json.obj(v)
    def s(k: String) = o.get(k).collect { case x: String => x }.getOrElse("")
    Op(s("id"), s("kind"), s("method"), s("path"), s("accept"), s("body"),
      s("key"), o.get("revisit").contains(true))
  }
}

/** A request as it went over the wire. */
final case class Sent(client: Int, op: Op, status: Int, ns: Long,
    encoding: String, etag: String, ifNoneMatch: String, wire: Array[Byte])

/** Blocking HTTP/1.1 client with one connection of its own. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def send(client: Int, op: Op, ifNoneMatch: Option[String]): Sent = {
    val b = HttpRequest.newBuilder(URI.create(base + op.path))
      .header("Accept", op.accept).header("Accept-Encoding", "gzip")
    ifNoneMatch.foreach(b.header("If-None-Match", _))
    if (op.method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(op.body))
    else b.GET()
    val req = b.build()
    val t0 = System.nanoTime()
    try {
      val r = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      val ns = System.nanoTime() - t0
      def h(k: String) = r.headers.firstValue(k).orElse("")
      Sent(client, op, r.statusCode, ns, h("Content-Encoding"), h("ETag"),
        ifNoneMatch.getOrElse(""), r.body)
    } catch {
      case e: java.io.IOException =>
        Sent(client, op, -1, System.nanoTime() - t0, "", "",
          ifNoneMatch.getOrElse(""), e.toString.getBytes(UTF_8))
    }
  }
}

/** The benchmark's JVM: one Spark session, the workload's timed phase
  * (or its traced replay), and a results directory for `run.py`.
  *
  * Arguments (all required): --workload --data --plan --out --seconds
  * --trace --clients. */
object BenchMain {

  def main(args: Array[String]): Unit = {
    // System.exit either way: HttpShim.stop() leaves its handler pool's
    // non-daemon threads parked, and they would keep the JVM up forever
    val code = try { run(args); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val res = new Results(out)
    val spark = Harness.session()
    mark("session up")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val plan = Json.obj(Json.parse(Files.readString(Paths.get(opt("plan")))))
    opt("workload") match {
      case "pipeline-batch" =>
        new Pipeline(spark, opt("data"), plan, res).run(seconds, traced)
      case _ =>
        new Serving(spark, opt("data"), plan, opt("clients").toInt, res)
          .run(seconds, traced)
    }
    spark.stop()
    // name what is still alive, so the lingering threads have a culprit
    val lingering = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread])
      .filter(t => t.isAlive && !t.isDaemon && t != Thread.currentThread)
      .map(t => s"${t.getName}:${t.getState}").sorted.toSeq
    res.put("lingering_threads", lingering)
    res.finish()
    mark("results written")
  }

  /** Progress line in the JVM log, stamped with [[sinceJvmStart]]. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: $what at ${sinceJvmStart()}%.2f s")

  /** JVM start to now, in seconds. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after full collections, MiB. Spark frees broadcast
    * and shuffle state from its cleaner thread once a collection has
    * found the owner unreachable, so this collects, lets the cleaner
    * run, and repeats, keeping the lowest reading. Taken after set-up,
    * a fixed amount of work: Spark's status store keeps data of every
    * query it ran, so heap read after a timed phase grows with how many
    * requests the run managed, i.e. with the host's speed. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      rt.totalMemory - rt.freeMemory
    }.min / 1048576.0
  }
}

/** Key/value results plus JSON-lines side files, written under `dir`. */
final class Results(dir: Path) {
  private val kv = scala.collection.mutable.LinkedHashMap[String, Any]()
  def put(k: String, v: Any): Unit = kv(k) = v
  def lines(name: String, rows: Iterator[Any]): Unit = {
    val w = Files.newBufferedWriter(dir.resolve(name), UTF_8)
    try rows.foreach { r => w.write(Enc(r)); w.write('\n') } finally w.close()
  }
  def finish(): Unit = Files.writeString(dir.resolve("result.json"), Enc(kv))
}

/** JSON encoder for results, independent of the program's own codec
  * (results are checked against it). Doubles keep every digit. */
object Enc {
  def apply(v: Any): String = {
    val sb = new java.lang.StringBuilder
    write(sb, v)
    sb.toString
  }
  private def str(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  private def write(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(sb, d.toString) else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: java.math.BigDecimal => sb.append(n.toPlainString)
    case n: Number => sb.append(n.toString)
    case r: Row => write(sb, r.toSeq)
    case m: collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case a: Array[_] => write(sb, a.toSeq)
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case other => str(sb, other.toString)
  }
}

/** viewer-pan and grafana-mix: HttpShim over the generated archive,
  * driven over real sockets by clients in rounds. */
final class Serving(spark: SparkSession, data: String, plan: Map[String, Any],
    clients: Int, res: Results) {

  private val perClient: IndexedSeq[IndexedSeq[Op]] =
    Json.arr(plan("clients")).map(c => Json.arr(c).map(Op.of)).take(clients)
  private val traceMin = Json.num(plan("trace_min")).toInt
  private val perRound = Json.num(plan("per_round")).toInt

  def run(seconds: Double, traced: Boolean): Unit = {
    val adapter = new EventsArchiveAdapter(spark, data)
    val points = adapter.pointsAll
    val attConf = adapter.attConf
    val attNames = adapter.attNames
    val shim = new HttpShim(spark, points, attConf, attNames)
    shim.start()
    BenchMain.mark("shim up")
    val base = s"http://127.0.0.1:${shim.boundPort}"
    try {
      // all at once, like the timed clients will arrive
      val warm = Json.arr(plan("warmup")).map(Op.of).map { op =>
        val f = new java.util.concurrent.FutureTask(() =>
          new Client(base).send(-1, op, None).status)
        new Thread(f, s"perfbench-warmup-${op.id}").start()
        f
      }
      val warmStatus = warm.map(_.get())
      BenchMain.mark(s"warm-up done: ${warmStatus.mkString(",")}")
      res.put("warmup_status", warmStatus)
      res.put("setup_s", BenchMain.sinceJvmStart())
      res.put("setup_heap_mb", BenchMain.heapAfterGcMb())
      if (traced) replay(base, points, attConf, attNames, seconds)
      else rounds(base, seconds)
    } finally shim.stop()
  }

  /** Each client sends its plan in order, `perRound` requests a round
    * one after the other; a round starts every client at once and ends
    * when the last answer is in, so every round runs the same mix under
    * the same overlap. The first round after set-up runs slower than
    * the rest, so a run makes at least [[Serving.MinRounds]] rounds and
    * then starts rounds until the deadline, the last one running to its
    * end: a per-shape median then never rests on the first round. */
  private def rounds(base: String, seconds: Double): Unit = {
    val n = perClient.size
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val clients = IndexedSeq.fill(n)(new Client(base))
    val etags = IndexedSeq.fill(n)(scala.collection.mutable.Map[String, String]())
    val sent = ArrayBuffer[Sent]()
    val walls = ArrayBuffer[Double]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val rounds = perClient.map(_.size).min / perRound
    var r = 0
    try {
      while ((System.nanoTime() < deadline || r < Serving.MinRounds) &&
          r < rounds) {
        val t0 = System.nanoTime()
        val lo = r * perRound
        val round = (0 until n).map { c =>
          pool.submit(() => perClient(c).slice(lo, lo + perRound)
            .map { op =>
              val s = clients(c).send(c, op,
                if (op.revisit) etags(c).get(op.key) else None)
              if (s.status == 200 && op.key.nonEmpty) etags(c)(op.key) = s.etag
              s
            })
        }.flatMap(_.get())
        walls += (System.nanoTime() - t0) / 1e9
        sent ++= round
        r += 1
      }
    } finally pool.shutdownNow()
    res.put("timed_s", (System.nanoTime() - start) / 1e9)
    res.put("rounds_s", walls.toSeq)
    res.put("plan_exhausted", r == rounds)
    res.lines("responses.jsonl", sent.iterator.map(record))
  }

  private def record(s: Sent): Map[String, Any] = Map(
    "client" -> s.client, "id" -> s.op.id, "kind" -> s.op.kind,
    "status" -> s.status, "ms" -> s.ns / 1e6, "encoding" -> s.encoding,
    "etag" -> s.etag, "if_none_match" -> s.ifNoneMatch,
    "wire_bytes" -> s.wire.length,
    "wire" -> Base64.getEncoder.encodeToString(s.wire))

  /** One client: each request goes to the route over HTTP and is
    * replayed through the layers with spans; the two wire bodies must
    * be equal, and so must the Spark jobs, files and rows scanned of
    * the two (the replay's own persist `count()` aside). Spark figures
    * are the route's. Requests interleave the clients' plans. */
  private def replay(base: String, points: org.apache.spark.sql.DataFrame,
      attConf: org.apache.spark.sql.DataFrame,
      attNames: org.apache.spark.sql.DataFrame, seconds: Double): Unit = {
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val trace = new Tracer
    var storageBytes = 0L
    val replayer = new Replay(points, attConf, attNames, trace, () =>
      storageBytes = math.max(storageBytes,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
    val client = new Client(base)
    val etags = Array.fill(perClient.size)(
      scala.collection.mutable.Map[String, String]())
    val ops = ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    // at least traceMin requests, so every request kind of the plan is
    // replayed however short the run
    while ((System.nanoTime() < deadline || k < traceMin) &&
        k / perClient.size < perClient.map(_.size).min) {
      val c = k % perClient.size
      val op = perClient(c)(k / perClient.size)
      val inm = if (op.revisit) etags(c).get(op.key) else None
      val reqId = s"${op.id}#$k"
      // the route's own Spark work: its server thread sets no job key,
      // so its jobs go to the active operation
      def viaHttp(): (Sent, OpCounters) = {
        PerfbenchBridge.drainListeners(sc)
        counters.active = reqId + "@http"
        val sent = client.send(c, op, inm)
        PerfbenchBridge.drainListeners(sc)
        counters.active = null
        (sent, counters.take(reqId + "@http"))
      }
      def viaLayers(): (Wire, Long, OpCounters, OpCounters) = {
        PerfbenchBridge.drainListeners(sc)
        storageBytes = 0L
        trace.req = reqId
        counters.active = reqId
        sc.setLocalProperty(SparkCounters.PropKey, reqId)
        val t0 = System.nanoTime()
        val wire = try replayer.run(op, inm)
          finally sc.setLocalProperty(SparkCounters.PropKey, null)
        val ns = System.nanoTime() - t0
        PerfbenchBridge.drainListeners(sc)
        counters.active = null
        (wire, ns, counters.take(reqId), counters.take(reqId + Replay.OwnJobs))
      }
      // the second run of a request reuses the first one's generated
      // code, so the two paths take turns going first
      val ((http, routeWork), (wire, replayNs, replayWork, persistWork)) =
        if (k % 2 == 0) { val h = viaHttp(); (h, viaLayers()) }
        else { val l = viaLayers(); (viaHttp(), l) }
      if (http.status == 200 && op.key.nonEmpty) etags(c)(op.key) = http.etag
      val same = wire.status == http.status &&
        (wire.status != 200 || java.util.Arrays.equals(wire.body, http.wire)) &&
        (op.kind != "image" || wire.etag == http.etag)
      // the replay's scans of the data it persists run in its count()
      val replayRows = replayWork.rowsScanned + persistWork.rowsScanned
      val replayFiles = replayWork.filesRead + persistWork.filesRead
      val sameWork = routeWork.jobs == replayWork.jobs + replayer.persists &&
        routeWork.rowsScanned == replayRows &&
        routeWork.filesRead == replayFiles
      ops += Map("req" -> reqId, "id" -> op.id, "kind" -> op.kind,
        "status" -> http.status, "http_ms" -> http.ns / 1e6,
        "replay_ms" -> replayNs / 1e6, "same" -> same,
        "same_work" -> sameWork,
        "replay_jobs" -> (replayWork.jobs + replayer.persists),
        "replay_rows_scanned" -> replayRows,
        "replay_files_read" -> replayFiles,
        "wire_bytes" -> http.wire.length,
        "storage_bytes" -> storageBytes) ++ routeWork.fields
      k += 1
    }
    res.put("plan_exhausted", k / perClient.size >= perClient.map(_.size).min)
    res.lines("trace_ops.jsonl", ops.iterator)
    res.lines("spans.jsonl", trace.spans.iterator.map(s => Map(
      "req" -> s.req, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)))
  }
}

object Serving {
  val MinRounds = 3
}

object Pipeline {
  val MinPasses = 2
}

/** pipeline-batch: the listed `SparkEntry.queries`, warm pass over the
  * small corpus, then at least [[Pipeline.MinPasses]] whole timed
  * passes over the full one, and whole passes until the deadline. Each
  * result is collected (that forces the whole plan, like a noop write)
  * and written out after its timer stops, for the oracle compare. */
final class Pipeline(spark: SparkSession, data: String,
    plan: Map[String, Any], res: Results) {

  private val names = Json.arr(plan("queries")).map(Json.str)

  def run(seconds: Double, traced: Boolean): Unit = {
    val sc = spark.sparkContext
    res.put("oracle_sql", names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    names.foreach(n => SparkEntry.queries(n)(spark, s"$data/docs_warm").collect())
    val counters = new SparkCounters
    if (traced) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    res.put("setup_s", BenchMain.sinceJvmStart())
    res.put("setup_heap_mb", BenchMain.heapAfterGcMb())
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val runs = ArrayBuffer[Map[String, Any]]()
    val results =
      scala.collection.mutable.LinkedHashMap[String, (Seq[String], Array[Row])]()
    // the first timed pass runs slower than the next, so every query
    // gets at least MinPasses walls and its median is the same mix of
    // the two in every run
    var pass = 0
    while (pass < Pipeline.MinPasses || System.nanoTime() < deadline) {
      names.foreach { n =>
        val reqId = s"$n#$pass"
        if (traced) {
          PerfbenchBridge.drainListeners(sc)
          counters.active = reqId
          sc.setLocalProperty(SparkCounters.PropKey, reqId)
        }
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, s"$data/docs")
        val rows = df.collect()
        val ns = System.nanoTime() - t0
        val extra = if (traced) {
          sc.setLocalProperty(SparkCounters.PropKey, null)
          PerfbenchBridge.drainListeners(sc)
          counters.active = null
          counters.take(reqId).fields
        } else Map.empty[String, Any]
        val encoded = Enc(rows.toSeq).getBytes(UTF_8)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(encoded).map("%02x".format(_)).mkString
        if (pass == 0) results(n) = (df.columns.toSeq, rows)
        runs += Map("query" -> n, "pass" -> pass, "ms" -> ns / 1e6,
          "rows" -> rows.length, "result_bytes" -> encoded.length,
          "digest" -> digest) ++ extra
      }
      pass += 1
    }
    res.put("timed_s", (System.nanoTime() - start) / 1e9)
    res.lines("pipeline_runs.jsonl", runs.iterator)
    res.lines("pipeline_results.jsonl", results.iterator.map {
      case (n, (cols, rows)) => Map("query" -> n, "columns" -> cols,
        "rows" -> rows.toSeq)
    })
  }
}
