package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON text for the result line, the run record and spans. */
object Json {
  def apply(v: Any): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(v)(DefaultFormats)))

  /** An object whose keys keep the given order. */
  def obj(kv: Seq[(String, Any)]): String = apply(scala.collection.immutable.ListMap(kv: _*))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Output checks. Every check is one attempted operation; a failed one
  * counts in `failed` and is named on stdout, after `label`. */
final class Checks(label: String = "CHECK FAILED") {
  private var attempted0 = 0L
  private val failures = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failures.values.sum)

  def apply(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    synchronized {
      attempted0 += 1
      if (!ok) failures(name) = failures.getOrElse(name, 0L) + 1
    }
    if (!ok) println(s"$label $name: $detail")
    ok
  }

  /** An operation that threw counts as attempted and failed. */
  def guard[T](name: String)(f: => T): Option[T] =
    try Some(f)
    catch {
      case e: Exception =>
        apply(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def summary: Map[String, Long] = synchronized(failures.toMap)
}

/** POST JSON to the served store, as a client would. */
final class Http(port: Int) {
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: String): (Int, JValue) = {
    val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  def search(text: String, scope: Option[String], topN: Int): (Int, JValue) =
    post("/search", Json.obj(Seq("query" -> Map("text" -> text), "top_n" -> topN) ++
      scope.map(s => "search_location" -> s)))
}

object Files {
  /** (files, bytes) under a directory, Spark/Hadoop checksum files excluded. */
  def footprint(f: java.io.File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(footprint)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".crc")) (0L, 0L)
    else (1L, f.length())
}
