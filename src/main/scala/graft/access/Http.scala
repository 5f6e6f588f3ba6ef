package graft.access

import graft.task.PTask
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI
import java.time.Duration

/** HTTP location accessor — reference porcupine-http
  * (Data/Locations/Accessors/HTTP.hs:58-153): GET/POST with
  * configurable verb, timeout, and accept header; `{var}`-templated
  * URLs fetch one document per index.
  *
  * Architecture: single fetches are driver-side (config-sized payloads
  * — the reference uses HTTP for API documents, not bulk data);
  * indexed fetches fan out on EXECUTORS through the `graft-http`
  * DataSourceV2 ([[graft.sources.HttpDataSource]]), so a thousand-URL
  * sweep is cluster-parallel. Responses land as `(rep_index, body,
  * error)` rows and flow into `spark.read.json`/csv like any layer.
  */
object Http {

  /** `timeout` bounds BOTH phases: connection establishment (the
    * shared client for this timeout is built with it as connect
    * timeout, capped at 30s) and the request itself (per-request
    * timeout). A caller passing 2s never blocks 30s on an unreachable
    * host. */
  final case class HttpConf(
      method: String = "GET",
      timeout: Duration = Duration.ofSeconds(30),
      accept: String = "application/json",
      body: Option[String] = None)

  /** ONE HttpClient per distinct connect timeout (clients are
    * thread-safe and pool connections): building a client per fetch
    * would spawn a selector thread + socket pool per URL — per ROW on
    * the executor-side paths — exhausting threads and file descriptors
    * on a large sweep. The map stays tiny: its keyspace is the set of
    * distinct timeouts the app configures. */
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Long, HttpClient]()
  private def clientFor(conf: HttpConf): HttpClient = {
    val connectMs = math.min(conf.timeout.toMillis, 30000L)
    clients.computeIfAbsent(connectMs, ms =>
      HttpClient.newBuilder().connectTimeout(Duration.ofMillis(ms)).build())
  }

  /** One driver-side fetch (used by single-URL reads). */
  def fetch(url: String, conf: HttpConf = HttpConf()): String = {
    val client = clientFor(conf)
    val base = HttpRequest.newBuilder(URI.create(url))
      .timeout(conf.timeout).header("Accept", conf.accept)
    val req = (conf.method match {
      case "POST" => base.POST(HttpRequest.BodyPublishers.ofString(
        conf.body.getOrElse("")))
      case "PUT" => base.PUT(HttpRequest.BodyPublishers.ofString(
        conf.body.getOrElse("")))
      case _ => base.GET()
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  /** Read one JSON document from a URL as a DataFrame. */
  def readJson(spark: SparkSession, url: String,
               conf: HttpConf = HttpConf()): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(Seq(fetch(url, conf))))
  }

  /** HTTP write side — the reference accessor's configurable
    * writeMethod (HTTP.hs:58-153 `{url, writeMethod}`): POST each
    * row's JSON to the (optionally `{var}`-templated, spliced per row
    * from column values) URL, EXECUTOR-side via foreachPartition.
    * Returns per-row (url, status-or-error) outcomes collected to a
    * DataFrame for auditing. */
  def postRows(df: org.apache.spark.sql.DataFrame, urlTemplate: String,
               conf: HttpConf = HttpConf(method = "POST"))
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vars = graft.loc.LocTemplate(urlTemplate).variables
    val withJson = df.withColumn("_body",
      org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(
          df.columns.toIndexedSeq.map(
            org.apache.spark.sql.functions.col): _*)))
    withJson.mapPartitions { rows =>
      rows.map { row =>
        val url = vars.foldLeft(urlTemplate)((u, v) =>
          u.replace(s"{$v}", String.valueOf(row.getAs[Any](v))))
        val body = row.getAs[String]("_body")
        try {
          fetch(url, conf.copy(body = Some(body)))
          (url, "ok")
        } catch { case e: Exception => (url, e.toString) }
      }
    }.toDF("url", "outcome")
  }

  /** Catalog-level HTTP source task: fetch + parse as JSON, with the
    * engine's content-hash cache keyed by URL (reference example-Poke
    * caches API reads, ExamplePokeAPI.hs:44-49). */
  def loadJsonUrl(url: String, salt: String = ""): PTask[Any, DataFrame] =
    PTask.task((ctx, _) => ctx.cache match {
      case Some(memo) =>
        val key = memo.keyOf(Seq("http", url, salt))
        memo.getOrElseUpdate(key)(readJson(ctx.spark, url))
      case None => readJson(ctx.spark, url)
    })

  /** Build an HttpConf from a location's option map — the reference's
    * JSON location-object fields (HTTP.hs:58-153: `{url, readMethod,
    * writeMethod, timeout, ...}` bound in a job spec). `forWrite`
    * selects writeMethod (default POST) over readMethod (default GET). */
  def confFor(loc: graft.loc.LocTemplate, forWrite: Boolean): HttpConf = {
    val o = loc.options
    HttpConf(
      method = if (forWrite) o.getOrElse("writeMethod", "POST")
               else o.getOrElse("readMethod", o.getOrElse("method", "GET")),
      timeout = Duration.ofSeconds(
        o.get("timeoutSeconds").map(_.toLong).getOrElse(30L)),
      accept = o.getOrElse("accept", "application/json"))
  }

  /** Read an http(s) catalog layer — the scheme-dispatch target of
    * `Access.readLayer`, making an HTTP URL a first-class location for
    * any virtual file (reference HTTP.hs:58-153). The document is
    * fetched once driver-side (the reference uses HTTP for API
    * documents, not bulk data — indexed sweeps go through the
    * `graft-http` DataSourceV2 source) and parsed per the layer's
    * extension: json documents/arrays, csv text, or plain text lines. */
  def readLocation(spark: SparkSession, loc: graft.loc.LocTemplate,
                   ext: String,
                   schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    require(loc.isFullySpliced,
      s"http read of ${loc.raw}: unsatisfied {vars} — bind indices via " +
        "loadIndexed or read.format(\"graft-http\") with an index range")
    import spark.implicits._
    val body = fetch(loc.raw, confFor(loc, forWrite = false))
    ext match {
      case "json" =>
        val r = spark.read
        schema.foreach(r.schema)
        r.json(spark.createDataset(Seq(body)))
      case "csv" =>
        val lines = spark.createDataset(body.linesIterator.toSeq)
        val r = spark.read.option("header", "true")
        schema.fold(r.option("inferSchema", "true"))(r.schema)
        r.csv(lines)
      case "txt" =>
        spark.createDataset(body.linesIterator.toSeq).toDF("value")
      case other => throw new IllegalArgumentException(
        s"http layer ${loc.raw}: unsupported format .$other " +
          "(json, csv, txt)")
    }
  }

  /** Write a DataFrame to an http(s) catalog layer: serialize to ONE
    * document (these are API-sized payloads by construction) and send
    * it with the location's writeMethod — reference HTTP.hs write side
    * (`{url, writeMethod}`). */
  def writeLocation(df: DataFrame, loc: graft.loc.LocTemplate,
                    ext: String): Unit = {
    val doc = ext match {
      case "json" => df.toJSON.collect().mkString("[\n", ",\n", "\n]\n")
      case "txt"  => df.collect().map(_.getString(0)).mkString("", "\n", "\n")
      case other => throw new IllegalArgumentException(
        s"http sink ${loc.raw}: unsupported format .$other (json, txt)")
    }
    val conf = confFor(loc, forWrite = true)
    fetch(loc.raw, conf.copy(body = Some(doc)))
  }
}
