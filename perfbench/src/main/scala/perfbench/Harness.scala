package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.core.Tables
import graft.lang.{Compiler, Interp, Optimize, Parser, Rewrites}
import graft.server.QueryServer

/** JVM side of the benchmark. Two modes:
  *
  *  - `serve <dataDir> <warmDir|-> <cpus>`: start `QueryServer` on the data
  *    directory (and a second one on the warm-up directory), print
  *    `PERFBENCH_READY {...}` with the ports, then obey stdin commands:
  *    `stats` prints the heap after a full GC and the persisted RDD count;
  *    `quit` (or end of input) stops everything and exits.
  *  - `oracle <out>`: write every registered query's oracle SQL to `<out>`
  *    as one JSON object, for the independent answer checks.
  *  - `trace <dataDir> <warmDir|-> <cpus> <warmClients> <requests> <out>`:
  *    warm up like the untraced run, then replay the
  *    request file in-process through the same layer functions the route
  *    handlers call, with spans and a job listener, and write the spans,
  *    job counts, latencies and responses to `<out>` as JSON lines.
  *
  * Both modes end with an explicit `System.exit`: `QueryServer.stop()`
  * leaves the server's non-daemon handler pool alive, so returning from
  * `main` would not end the JVM.
  */
object Harness {
  val MaxRows = 10000

  def session(cpus: Int): SparkSession = {
    // the session QueryServerMain builds, on local[cpus]
    val spark = graft.core.ScaleConf.tuned(SparkSession.builder()
      .appName("graft-server").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      args.toList match {
        case "serve" :: data :: warm :: cpus :: Nil =>
          serve(data, Option(warm).filter(_ != "-"), cpus.toInt); 0
        case "trace" :: data :: warm :: cpus :: clients :: reqs :: out :: Nil =>
          Trace.run(data, Option(warm).filter(_ != "-"), cpus.toInt,
            clients.toInt, reqs, out)
          0
        case "oracle" :: out :: Nil => writeOracleSql(out); 0
        case _ =>
          System.err.println("usage: Harness serve|trace|oracle ..."); 2
      }
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def writeOracleSql(out: String): Unit =
    Files.writeString(Paths.get(out), graft.SparkEntry.oracleSql.toSeq
      .sortBy(_._1).map { case (k, v) => s"${Trace.q(k)}: ${Trace.q(v)}" }
      .mkString("{", ",\n", "}"))

  /** Heap in use after a full collection, in MiB. Earlier collections
    * let Spark's ContextCleaner see dead broadcasts and shuffles, the
    * pauses let it drop their blocks, and the last collection frees them. */
  def heapAfterGcMb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(500) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def serve(data: String, warm: Option[String], cpus: Int): Unit = {
    val spark = session(cpus)
    val main = new QueryServer(spark, data, port = 0)
    val warmSrv = warm.map(w => new QueryServer(spark, w, port = 0))
    val port = main.start()
    val warmPort = warmSrv.map(_.start()).getOrElse(-1)
    println(s"""PERFBENCH_READY {"port": $port, "warm_port": $warmPort}""")
    System.out.flush()
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      if (line.trim == "stats") {
        val heap = heapAfterGcMb()
        val rdds = spark.sparkContext.getPersistentRDDs.size
        println(s"""PERFBENCH_STATS {"heap_mb": $heap, "persisted_rdds": $rdds}""")
        System.out.flush()
      }
      line = in.readLine()
    }
    main.stop(); warmSrv.foreach(_.stop())
    spark.stop()
  }

  /** One request of a replay file: `kind \t arg`, arg base64 for bodies. */
  final case class Req(id: Int, phase: String, kind: String, arg: String) {
    def path: String = kind match {
      case "run" => "/run"
      case "runc" => "/runc"
      case "query" => s"/query/$arg"
      case _ => arg
    }
    def body: Option[String] =
      if (kind == "run" || kind == "runc") Some(arg) else None
  }

  def readRequests(file: String): Seq[Req] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq.filter(_.nonEmpty)
      .zipWithIndex.map { case (l, i) =>
        val Array(phase, kind, arg) = l.split("\t", 3)
        val a = if (kind == "run" || kind == "runc")
          new String(Base64.getDecoder.decode(arg), StandardCharsets.UTF_8)
        else arg
        Req(i, phase, kind, a)
      }

  /** Send one request over HTTP; returns (status, body bytes). */
  def http(port: Int, r: Req): (Int, Array[Byte]) = {
    val conn = URI.create(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(170000)
    r.body.foreach { b =>
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val s = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val bytes = s.readAllBytes()
    conn.disconnect()
    (code, bytes)
  }
}

/** In-process traced replay. Spans nest by call order on the replay
  * thread; every Spark job is tagged with the innermost open span through
  * a local property, so a listener can attribute jobs, tasks, input
  * records and shuffle bytes to spans exactly. */
object Trace {
  import Harness._

  final case class Span(id: Int, parent: Int, req: Int, name: String,
      start: Long, var end: Long = 0L)

  private val SpanProp = "perfbench.span"

  final class JobStats {
    var span = -1; var tasks = 0; var records = 0L; var shuffleBytes = 0L
  }

  /** Job → span attribution and per-job task metrics. */
  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
    private val stageJob = mutable.Map.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val js = new JobStats
      js.span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = js
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { js =>
        js.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          js.records += m.inputMetrics.recordsRead
          js.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  final class Tracer(spark: SparkSession, val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Span]
    var req = -1

    def apply[T](name: String)(f: => T): T =
      if (!on) f
      else {
        val parent = stack.headOption.map(_.id).getOrElse(-1)
        val s = Span(spans.size, parent, req, name, System.nanoTime())
        spans += s; stack.push(s)
        spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
        try f
        finally {
          s.end = System.nanoTime(); stack.pop()
          spark.sparkContext.setLocalProperty(SpanProp,
            stack.headOption.map(_.id.toString).orNull)
        }
      }
  }

  /** Counts Tables.load calls made by one replay. */
  private var loadCalls = 0

  /** The route handlers of QueryServer, call for call, with a span around
    * each call into a layer. Returns the JSON response body. */
  private def handle(spark: SparkSession, dir: String, r: Req,
      t: Tracer): String = {
    def load(name: String): DataFrame = {
      loadCalls += 1
      Tables.load(spark, dir, name)
    }
    def fullStore: Map[String, DataFrame] = t("core.load") {
      Tables.all.map(n => n -> load(n)).toMap
    }
    def toJson(df: DataFrame): String = {
      val js = df.limit(MaxRows).toJSON
      t("exec.plan")(js.queryExecution.executedPlan)
      t("exec.collect")(js.collect()).mkString("[", ",", "]")
    }
    r.kind match {
      case "run" =>
        val parsed = t("lang.parse")(Parser.parseExpr(r.arg))
        val prog = t("lang.normalize")(Rewrites.normalize(parsed))
        val store = fullStore
        val v = t("lang.compile")(
          Compiler.compile(prog, Compiler.Env(Map.empty, store, spark)))
        toJson(v match {
          case Compiler.TV(df) => df
          case Compiler.CV(c) => Compiler.oneRow(spark).select(c.as("value"))
        })
      case "runc" =>
        val prog = t("lang.parse")(Parser.parseCommand(r.arg))
        val store = fullStore
        val (cmd, primed) = t("lang.optimize")(
          Optimize.transform(prog, Compiler.Env(Map.empty, store, spark)))
        val end = t("lang.interp")(Interp.run(cmd, primed))
        val res = end.store.getOrElse("result",
          throw new IllegalArgumentException("no result"))
        val rows = t("exec.collect")(res.limit(MaxRows).collect())
        end.indexes.values.foreach(_.unpersist())
        end.compoIndexes.values.foreach(_.unpersist())
        toJson(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          res.schema))
      case "get" => r.arg.split("/").filter(_.nonEmpty) match {
        case Array("get_artist_less_than", n) =>
          val c = t("core.load")(load("customer"))
          toJson(c.filter(col("c_custkey") < n.toLong)
            .select(col("c_custkey").as("artist_id"),
              col("c_name").as("artist"))
            .orderBy("artist_id"))
        case Array("get_album_and_artist", n) =>
          val (o, c) = t("core.load")((load("orders"), load("customer")))
          toJson(o.join(broadcast(c.filter(col("c_custkey") < n.toLong)),
              col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey").as("album_id"),
              col("c_name").as("artist"))
            .orderBy("album_id"))
        case _ => sys.error(s"unknown GET ${r.arg}")
      }
      case "query" =>
        val f = graft.SparkEntry.queries(r.arg)
        toJson(t(s"operators.${r.arg}")(f(spark, dir)))
    }
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def run(data: String, warm: Option[String], cpus: Int, warmClients: Int,
      reqFile: String, outFile: String): Unit = {
    val spark = session(cpus)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    val server = new QueryServer(spark, data, port = 0)
    val port = server.start()
    val warmSrv = warm.map(w => new QueryServer(spark, w, port = 0))
    val warmPort = warmSrv.map(_.start()).getOrElse(port)
    val reqs = readRequests(reqFile)
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(outFile)))
    def emit(s: String): Unit = out.println(s)

    // warm-up over HTTP with as many clients as the untraced run uses
    val warmQueue = new java.util.concurrent.ConcurrentLinkedQueue(
      reqs.filter(_.phase == "warm").asJava)
    val warmErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val warmers = (1 to warmClients).map { _ =>
      val th = new Thread(() => {
        var r = warmQueue.poll()
        while (r != null) {
          val (code, _) = http(if (r.kind == "query") warmPort else port, r)
          if (code != 200) warmErrors.add(s"warm-up request ${r.id}: $code")
          r = warmQueue.poll()
        }
      })
      th.start(); th
    }
    warmers.foreach(_.join())
    require(warmErrors.isEmpty, warmErrors.peek())
    val timed = reqs.filter(_.phase == "timed")

    // Three passes over the timed requests, one client: untraced over HTTP
    // (the latency the server adds to), in-process with spans, and
    // in-process with spans off (the tracing overhead). They interleave
    // request by request, in an order rotated per request, so no pass runs
    // on a systematically warmer JVM.
    val tracer = new Tracer(spark, on = true)
    val plain = new Tracer(spark, on = false)
    def inProcess(pass: String, t: Tracer, r: Req): Unit = {
      t.req = r.id
      loadCalls = 0
      spark.sparkContext.setLocalProperty(SpanProp, null)
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      val jobs0 = listener.synchronized(listener.jobs.size)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val body = t(s"request.${r.kind}")(handle(spark, data, r, t))
      val ms = (System.nanoTime() - t0) / 1e6
      val gc = gcMillis() - gc0
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      val jobs = listener.synchronized(listener.jobs.size) - jobs0
      emit(s"""{"type": "req", "pass": "$pass", "req": ${r.id}, "kind": "${r.kind}", "ms": $ms, "gc_ms": $gc, "jobs": $jobs, "load_calls": $loadCalls, "bytes": ${body.getBytes(StandardCharsets.UTF_8).length}}""")
      if (t.on) emit(s"""{"type": "resp", "req": ${r.id}, "body": $body}""")
    }
    def overHttp(r: Req): Unit = {
      val t0 = System.nanoTime()
      val (code, body) = http(port, r)
      val ms = (System.nanoTime() - t0) / 1e6
      emit(s"""{"type": "http", "req": ${r.id}, "ms": $ms, "status": $code, "bytes": ${body.length}}""")
    }
    val passes: Seq[Req => Unit] =
      Seq(overHttp, inProcess("traced", tracer, _), inProcess("plain", plain, _))
    for ((r, i) <- timed.zipWithIndex; k <- 0 until 3)
      passes((i + k) % 3)(r)
    for (s <- tracer.spans)
      emit(s"""{"type": "span", "id": ${s.id}, "parent": ${s.parent}, "req": ${s.req}, "name": ${q(s.name)}, "start": ${s.start}, "end": ${s.end}}""")
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    listener.synchronized {
      for ((id, js) <- listener.jobs if js.span >= 0)
        emit(s"""{"type": "job", "job": $id, "span": ${js.span}, "tasks": ${js.tasks}, "records": ${js.records}, "shuffle_bytes": ${js.shuffleBytes}}""")
    }
    val rdds = spark.sparkContext.getPersistentRDDs.size
    emit(s"""{"type": "end", "persisted_rdds": $rdds, "heap_mb": ${heapAfterGcMb()}}""")
    out.close()
    server.stop(); warmSrv.foreach(_.stop())
    spark.stop()
  }
}
