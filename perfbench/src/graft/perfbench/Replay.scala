package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.api.ArchiveApi
import graft.api.ArchiveApi.{AttrSpec, AxisImage, AxisSpec, HoverDesc,
  ImageResult}
import graft.functions.TimeFns
import graft.operators.{Catalog, Extrema, Raster}
import graft.plans.RasterFusion
import graft.render.Render
import graft.server.Json

/** One span: a timed call into a layer, nested under `parent` (-1 for
  * a request's root) within request `req`. */
final case class Span(req: String, id: Int, parent: Int, name: String,
    start: Long, end: Long)

/** In-memory span recorder for a single replaying thread. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var req = ""

  def apply[T](name: String)(f: => T): T = {
    val id = spans.length
    spans += Span(req, id, stack.headOption.getOrElse(-1), name,
      System.nanoTime(), 0L)
    stack = id :: stack
    try f
    finally {
      spans(id) = spans(id).copy(end = System.nanoTime())
      stack = stack.tail
    }
  }
}

/** What a route would put on the wire. */
final case class Wire(status: Int, etag: String, body: Array[Byte])

/** Replays a planned request in-process by calling the layers the
  * route calls, in the route's order, each inside a span. The result is
  * compared byte for byte with the route's own response, so the spans
  * time the route's work and nothing else. The bodies below mirror
  * `HttpShim`'s handlers and `ArchiveApi.imageQuery`/`rawQuery`; one
  * deliberate difference: the per-axis persist is materialized by its
  * own `count()` so that the scan-and-cache cost gets its own span
  * instead of hiding inside the first extrema collect. Those `count()`
  * jobs run under the operation key plus [[Replay.OwnJobs]], so every
  * other replayed job, plus one per persist ([[persists]]), can be
  * matched against the route's: a route that
  * changes its work (fewer scans, fewer jobs) without changing its
  * bytes shows up as a mismatch instead of leaving the spans to time
  * this copy. */
final class Replay(points: DataFrame, attConf: DataFrame,
    attNames: DataFrame, trace: Tracer, onPersist: () => Unit) {

  private val sc = points.sparkSession.sparkContext

  /** Persists the last [[run]] materialized with its own `count()`. The
    * route materializes each of them in a job of its own (adaptive
    * execution's table-cache stage) before its first collect, so the
    * route runs one job more per persist than the replay's other jobs. */
  var persists = 0

  private def ownJobs[T](f: => T): T = {
    val key = sc.getLocalProperty(SparkCounters.PropKey)
    sc.setLocalProperty(SparkCounters.PropKey, key + Replay.OwnJobs)
    try f finally sc.setLocalProperty(SparkCounters.PropKey, key)
  }

  def run(op: Op, ifNoneMatch: Option[String]): Wire = trace("request") {
    persists = 0
    op.kind match {
      case "image" => image(op, ifNoneMatch)
      case "query" => query(op)
      case _ => catalog(op)
    }
  }

  private def gzip(raw: Array[Byte]): Array[Byte] = trace("server.gzip") {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 4 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    try gz.write(raw) finally gz.close()
    bos.toByteArray
  }

  private def ok(body: String): Wire = {
    val raw = trace("server.encode") { body.getBytes(UTF_8) }
    Wire(200, "", gzip(raw))
  }

  // ------------------------------------------------------------ /image

  private def image(op: Op, ifNoneMatch: Option[String]): Wire = {
    val (attrs, t0, t1, w, h, axes) = trace("server.parse") {
      val b = Json.obj(Json.parse(op.body))
      val attrs = Json.arr(b("attributes")).map { a =>
        val o = Json.obj(a)
        AttrSpec(Json.str(o("name")),
          o.get("color").map(c => Integer.parseInt(
            Json.str(c).stripPrefix("#"), 16)).getOrElse(0xff0000),
          o.get("y_axis").map(v => Json.num(v).toInt).getOrElse(0))
      }
      val tr = Json.arr(b("time_range"))
      val size = Json.arr(b("size"))
      val axes = b.get("axes").map(Json.obj).getOrElse(Map.empty)
        .map { case (k, v) =>
          val o = Json.obj(v)
          k.toInt -> AxisSpec(o.get("scale").collect { case s: String => s },
            o.get("min").map(Json.num), o.get("max").map(Json.num))
        }
      (attrs, TimeFns.parseNaiveUtc(Json.str(tr(0))),
        TimeFns.parseNaiveUtc(Json.str(tr(1))),
        Json.num(size(0)).toInt, Json.num(size(1)).toInt, axes)
    }
    val result = trace("api.image") {
      imageQuery(attrs.toSeq, t0, t1, w, h, axes)
    }
    val bodyJson = trace("server.encode") {
      val images = result.images.map { case (axis, img) =>
        axis -> Map(
          "image" -> img.imageBase64,
          "y_range" -> Seq(img.yRange._1, img.yRange._2),
          "x_range" -> Seq(img.xRangeMs._1, img.xRangeMs._2))
      }
      val descs = result.descs.map { case (name, d) =>
        name -> Map(
          "total_points" -> d.totalPoints.toDouble,
          "indices" -> d.indices.map(_.toDouble),
          "min" -> d.colMin,
          "max" -> d.colMax,
          "timestamps" -> d.timestamps,
          "counts" -> d.counts.map(_.toDouble))
      }
      Json.write(Map("images" -> images, "descs" -> descs))
    }
    val etag = trace("server.etag") {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(("gzip" + "\u0000" + bodyJson).getBytes(UTF_8))
      "\"" + digest.take(16).map("%02x".format(_)).mkString + "\""
    }
    val matches = ifNoneMatch.exists { v =>
      v.trim == "*" ||
        v.split(',').map(_.trim.stripPrefix("W/")).contains(etag)
    }
    if (matches) Wire(304, etag, Array.emptyByteArray)
    else ok(bodyJson).copy(etag = etag)
  }

  private def imageQuery(attrs: Seq[AttrSpec], t0Us: Long, t1Us: Long,
      width: Int, height: Int, axes: Map[Int, AxisSpec]): ImageResult = {
    val byAxis = attrs.groupBy(_.yAxis)
    val images = Map.newBuilder[String, AxisImage]
    val descs = Map.newBuilder[String, HoverDesc]
    byAxis.foreach { case (axis, axisAttrs) =>
      val spec = axes.getOrElse(axis, AxisSpec())
      val names = axisAttrs.map(_.name)
      val axisPoints = points.where(col("att_name").isin(names: _*)
        && col("t").between(t0Us, t1Us)).persist()
      try {
        trace("cache.persist") { ownJobs(axisPoints.count()) }
        persists += 1
        onPersist()
        val ex = trace("operators.extrema") {
          Extrema.perAttribute(axisPoints, Seq("att_name"), spec.isLog)
            .collect()
        }.map { r =>
          r.getString(0) -> (Option(r.get(1)).map(_.toString.toDouble),
            Option(r.get(2)).map(_.toString.toDouble), r.getLong(3))
        }.toMap
        val totalPoints = ex.map { case (k, (_, _, n)) => k -> n }
        val nodata = names.filter(n =>
          ex.get(n).forall(e => e._1.isEmpty || e._2.isEmpty))
        val present = names.filterNot(nodata.contains)
        val vmins = present.flatMap(n => spec.min.orElse(ex(n)._1))
        val vmaxs = present.flatMap(n => spec.max.orElse(ex(n)._2))
        if (vmins.nonEmpty && vmaxs.nonEmpty) {
          val (yLo, yHi) = trace("operators.padRange") {
            Extrema.padRange(vmins.min, vmaxs.max, spec.isLog)
          }
          val presentPoints =
            axisPoints.where(col("att_name").isin(present: _*))
          val lineCells = trace("operators.lines") {
            Raster.binLines(presentPoints, Seq("att_name"), "point_id",
              t0Us, t1Us, yLo, yHi, width, height, spec.isLog).collect()
          }
          val hoverGrid = trace("operators.hover") {
            RasterFusion.hoverColumns(presentPoints, Seq("att_name"),
              t0Us, t1Us, yLo, yHi, width, height, spec.isLog).collect()
          }
          val cellsByName = lineCells.groupBy(_.getString(0))
          val hoverByName = hoverGrid.groupBy(_.getString(0))
          val layers = axisAttrs.filter(a => present.contains(a.name)).map { a =>
            val cells = cellsByName.getOrElse(a.name, Array.empty[Row])
              .map(r => (r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(3)))
            trace("render.shade") {
              Render.shadeEqHist(Render.Grid(a.name, a.color, width, height,
                cells.toSeq))
            }
          }
          val img = trace("render.stack") {
            Render.stack(layers.toSeq, width, height)
          }
          val png = trace("render.png") { Render.pngBase64(img) }
          images += axis.toString -> AxisImage(png, (yLo, yHi),
            (t0Us / 1000.0, t1Us / 1000.0))
          present.foreach { name =>
            val cols = hoverByName.getOrElse(name, Array.empty[Row])
              .sortBy(_.getLong(1))
            val indices = cols.map(_.getLong(1).toInt).toSeq
            descs += name -> HoverDesc(
              totalPoints.getOrElse(name, 0L),
              indices,
              cols.map(_.getDouble(2)).toSeq,
              cols.map(_.getDouble(3)).toSeq,
              indices.map(i => t0Us + (i + 0.5) * (t1Us - t0Us) / width),
              cols.map(_.getLong(4)).toSeq)
          }
        }
      } finally axisPoints.unpersist(blocking = false)
    }
    ImageResult(images.result(), descs.result())
  }

  // ------------------------------------------------------------ /query

  private def query(op: Op): Wire = {
    val csv = op.accept.contains("text/csv")
    val (targets, t0, t1, interval, maxRows) = trace("server.parse") {
      val b = Json.obj(Json.parse(op.body))
      val targets = Json.arr(b("targets"))
        .map(t => Json.str(Json.obj(t)("target")))
      val range = Json.obj(b("range"))
      val max = b.get("max").map(Json.num(_).toInt)
        .map(math.min(_, ArchiveApi.DefaultRawRowCap))
        .getOrElse(ArchiveApi.DefaultRawRowCap)
      (targets, TimeFns.parseNaiveUtc(Json.str(range("from"))),
        TimeFns.parseNaiveUtc(Json.str(range("to"))),
        b.get("interval").collect { case s: String => s }, max)
    }
    val out = trace("api.raw_query") {
      val frame = ArchiveApi.rawQueryFrame(points, targets, t0, t1,
        interval, maxRows)
      val rows = trace("operators.resample") {
        val it = frame.toLocalIterator()
        val buf = ArrayBuffer[Row]()
        while (it.hasNext) buf += it.next()
        buf
      }
      trace("render.series") {
        val w: Render.SeriesStream =
          if (csv) new Render.CsvStream(new java.lang.StringBuilder)
          else new Render.GrafanaStream(new java.lang.StringBuilder)
        var current: String = null
        rows.foreach { r =>
          val name = r.getString(0)
          if (name != current) { w.startSeries(name); current = name }
          val v = r.getDouble(2)
          w.row(r.getDouble(1), if (v.isNaN) None else Some(v))
        }
        w.finish()
      }
    }
    ok(out)
  }

  // ------------------------------------------------------------ catalog

  private def catalog(op: Op): Wire = {
    val body = trace("api.attributes") {
      op.kind match {
        case "controlsystems" =>
          val cs = trace("operators.catalog") {
            ArchiveApi.controlSystems(attConf).collect().map(_.getString(0))
          }.toSeq
          trace("server.encode") { Json.write(Map("controlsystems" -> cs)) }
        case "attributes" =>
          val p = trace("server.parse") { queryParams(op.path) }
          val attrs = trace("operators.catalog") {
            ArchiveApi.attributes(attNames, p("cs"), p("search"),
              p.get("max").map(_.toInt).getOrElse(100))
              .collect().map(_.getString(0))
          }.toSeq
          trace("server.encode") { Json.write(Map("attributes" -> attrs)) }
        case "search" =>
          val (cs, term) = trace("server.parse") {
            val b = Json.obj(Json.parse(op.body))
            (Json.str(b("cs")), Json.str(b("target")))
          }
          val matches = trace("operators.catalog") {
            Catalog.searchSubstring(attNames.where(col("cs_name") === cs),
              term).collect().map(_.getString(0))
          }.toSeq
          trace("server.encode") { Json.write(matches) }
      }
    }
    ok(body)
  }

  private def queryParams(path: String): Map[String, String] = {
    val q = path.indexOf('?') match {
      case -1 => ""
      case i => path.substring(i + 1)
    }
    q.split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }
}

object Replay {
  /** Suffix of the key the replay's own `count()` jobs run under. */
  val OwnJobs = "/own"
}
