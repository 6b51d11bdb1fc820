package graft.multimodal

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** External-object connections — MyScale's `CREATE CONNECTION ...
  * provider='AWS'` + `ObjectToFetch` type + `getObject()`
  * (`/root/reference/src/Parsers/ParserCreateConnectionQuery.cpp`,
  * `src/Interpreters/InterpreterCreateConnectionQuery.cpp`,
  * `src/Functions/getObject.cpp:53-60`; test
  * `tests/queries/3_ai_core_support/00009_mqai_objecturl_getObject.sql`).
  *
  * The catalog is real (register/drop/list, provider + credential refs),
  * and so is the fetch for every scheme: file/http(s) via the JDK,
  * s3 AND gs via the pure-JDK SigV4 presigner (GCS's XML API accepts
  * AWS4-HMAC-SHA256 with HMAC interop keys) — no SDK, no stub path.
  */
object Connections {

  case class Connection(
      name: String, provider: String, endpoint: String, credentialRef: String,
      awsRoleArn: String = "", awsRoleExternalId: String = "")

  private val registry = TrieMap.empty[String, Connection]

  /** `CREATE CONNECTION name provider='AWS' AWS_ROLE_ARN=...
    * AWS_ROLE_EXTERNAL_ID=...` (ParserCreateConnectionQuery.cpp).
    */
  def create(name: String, provider: String, endpoint: String = "",
      credentialRef: String = "", awsRoleArn: String = "",
      awsRoleExternalId: String = ""): Unit =
    registry.put(name, Connection(name, provider, endpoint, credentialRef,
      awsRoleArn, awsRoleExternalId))

  def drop(name: String): Unit = registry.remove(name)
  def list: Seq[Connection] = registry.values.toSeq

  /** Object-store credentials resolvable by a connection's
    * `credentialRef` — registered out-of-band (a deployment reads them
    * from its secret store), never stored in the connection catalog.
    */
  final case class ObjectStoreCredentials(
      accessKeyId: String, secretAccessKey: String,
      sessionToken: String = "", region: String = "us-east-1")

  private val credStore = TrieMap.empty[String, ObjectStoreCredentials]
  def registerCredentials(ref: String, c: ObjectStoreCredentials): Unit =
    credStore.put(ref, c)
  def dropCredentials(ref: String): Unit = credStore.remove(ref)

  /** Failures that must NOT be retried (size cap exceeded, 4xx) — a
    * dedicated type instead of message-substring classification.
    */
  final class NonRetryableFetchException(msg: String)
      extends java.io.IOException(msg)

  /** Schemes each provider may fetch. getObject must not be an SSRF /
    * arbitrary-local-file-read primitive for anyone who can run SQL: a
    * connection only reaches its own provider's scheme family, and
    * http(s) is pinned to the connection's declared endpoint host.
    */
  private def allowedSchemes(provider: String): Set[String] =
    provider.toUpperCase match {
      case "AWS" | "S3" => Set("s3", "http", "https")
      case "GCP" | "GS" | "GCS" => Set("gs", "http", "https")
      case "HTTP" | "HTTPS" | "WEB" => Set("http", "https")
      case "FS" | "FILE" | "LOCAL" => Set("file")
      case _ => Set("https")
    }

  private def schemeOf(url: String): String = {
    val i = url.indexOf("://")
    if (i >= 0) url.substring(0, i).toLowerCase
    else if (url.startsWith("/")) "file"
    else ""
  }

  /** authority (`host[:port]`) of an endpoint that may carry a scheme */
  private def endpointAuthority(endpoint: String): String =
    endpoint.stripPrefix("https://").stripPrefix("http://").takeWhile(_ != '/')

  /** Reject URLs outside the connection's provider scheme family; pin
    * http(s) fetches to the declared endpoint host (subdomains allowed —
    * virtual-hosted buckets are `bucket.s3...`). Empty endpoint = no pin
    * (the catalog owner opted out).
    */
  def validate(conn: Connection, url: String): Unit = {
    val scheme = schemeOf(url)
    if (!allowedSchemes(conn.provider).contains(scheme))
      throw new IllegalArgumentException(
        s"connection '${conn.name}' (provider=${conn.provider}) may not " +
          s"fetch scheme '$scheme': $url")
    if ((scheme == "http" || scheme == "https") && conn.endpoint.nonEmpty) {
      val ep = endpointAuthority(conn.endpoint)
      val auth = {
        val u = java.net.URI.create(url)
        if (u.getPort >= 0) s"${u.getHost}:${u.getPort}" else u.getHost
      }
      if (auth == null || !(auth == ep || auth.endsWith("." + ep)))
        throw new IllegalArgumentException(
          s"connection '${conn.name}' is pinned to endpoint '$ep'; " +
            s"refusing to fetch host '$auth' ($url)")
    }
  }

  private def fetchValidated(conn: Connection, url: String): Array[Byte] = {
    validate(conn, url)
    fetcher(conn, url)
  }

  /** `system.connections` analog (reference test
    * 00009_mqai_objecturl_getObject.sql inspects name/arn/external_id).
    */
  def asDataFrame(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    registry.values.toSeq
      .map(c => (c.name, c.provider, c.endpoint, c.credentialRef,
        c.awsRoleArn, c.awsRoleExternalId))
      .toDF("name", "provider", "endpoint", "credential_ref", "arn",
        "external_id")
  }

  /** SQL-callable `getObject(connection, url)` — makes the function
    * visible in the catalog (`system.functions` in the reference test)
    * and usable from pure SQL.
    */
  def register(r: graft.functions.FunctionSurface.Registrar): Unit =
    r.udf("getObject", udf((connectionName: String, url: String) => {
      if (url == null) null
      else {
        val conn = registry.getOrElse(connectionName,
          throw new IllegalArgumentException(
            s"unknown connection $connectionName"))
        fetchValidated(conn, url)
      }
    }))

  /** Byte cap on a fetched http(s) object (64 MiB): a runaway payload
    * errors out instead of ballooning an executor's heap — the cap is
    * enforced WHILE streaming, so at most cap+1 bytes ever buffer.
    */
  val MaxHttpBytes: Int = 64 * 1024 * 1024
  /** Attempts per URL; connection errors and 5xx retry with linear
    * backoff, 4xx fails immediately (the object genuinely isn't there).
    */
  val HttpRetries = 3

  // one client per JVM (executors re-initialize the object lazily)
  private lazy val httpClient = java.net.http.HttpClient.newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .build()

  /** Real http(s) fetch via the JDK client (no SDK needed): size-capped,
    * retried. Public so deployments can reuse it inside a custom
    * [[fetcher]] that adds auth headers.
    */
  def httpFetch(url: String): Array[Byte] = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < HttpRetries) {
      attempt += 1
      try {
        val req = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofSeconds(60)).GET().build()
        val resp = httpClient.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofInputStream())
        val code = resp.statusCode()
        if (code / 100 == 2) {
          val in = resp.body()
          try {
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) {
              out.write(buf, 0, n)
              if (out.size() > MaxHttpBytes) throw new NonRetryableFetchException(
                s"getObject: $url exceeds the $MaxHttpBytes-byte cap")
              n = in.read(buf)
            }
            return out.toByteArray
          } finally in.close()
        } else if (code / 100 == 5 || code == 429) {
          lastErr = new java.io.IOException(s"HTTP $code for $url")
        } else {
          throw new NonRetryableFetchException(s"HTTP $code for $url (not retried)")
        }
      } catch {
        case e: NonRetryableFetchException => throw e
        case e @ (_: java.io.IOException | _: InterruptedException) =>
          lastErr = e
      }
      if (attempt < HttpRetries) Thread.sleep(100L * attempt)
    }
    throw new java.io.IOException(
      s"getObject: $url failed after $HttpRetries attempts", lastErr)
  }

  /** `s3://bucket/key` → presigned http(s) GET through [[httpFetch]],
    * pure-JDK SigV4 ([[SigV4.presignGet]]). Custom endpoints (MinIO
    * style, scheme declared in the connection's endpoint) use path-style
    * addressing; the default AWS endpoint uses virtual-hosted https.
    */
  /** s3:// and gs:// share the one SigV4 presigner: AWS uses
    * virtual-hosted buckets on amazonaws.com, GCS uses path-style on
    * storage.googleapis.com (its XML API accepts AWS4-HMAC-SHA256 with
    * HMAC interop keys, service name "s3"). An explicit connection
    * endpoint overrides the host either way (minio / fake-gcs tests).
    */
  private def objectStoreFetch(
      conn: Connection, url: String, c: ObjectStoreCredentials): Array[Byte] = {
    val isGs = url.startsWith("gs://")
    val rest = url.stripPrefix("s3://").stripPrefix("gs://")
    val slash = rest.indexOf('/')
    if (slash <= 0 || slash == rest.length - 1)
      throw new IllegalArgumentException(s"object url needs bucket/key: $url")
    val bucket = rest.substring(0, slash)
    val key = rest.substring(slash) // keeps the leading '/'
    val (scheme, host, path) =
      if (conn.endpoint.nonEmpty) {
        val sch = if (conn.endpoint.startsWith("http://")) "http" else "https"
        (sch, endpointAuthority(conn.endpoint), s"/$bucket$key")
      } else if (isGs) ("https", "storage.googleapis.com", s"/$bucket$key")
      else ("https", s"$bucket.s3.${c.region}.amazonaws.com", key)
    val amzDate = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    httpFetch(SigV4.presignGet(host, path, c.region, "s3", c.accessKeyId,
      c.secretAccessKey, c.sessionToken, amzDate, 300, scheme))
  }

  /** Default fetcher: REAL for every scheme — `file://` and bare local
    * paths via java.nio, `http(s)://` via the JDK http client (capped +
    * retried, [[httpFetch]]), `s3://` via pure-JDK SigV4 presigning over
    * that same client, and `gs://` via the SAME SigV4 signer against the
    * GCS XML API (which accepts AWS4-HMAC-SHA256 with HMAC interop
    * keys — no SDK needed). Object-store URLs whose connection has no
    * registered credentials fail fast with a configuration error; there
    * is no stub path left.
    */
  @volatile var fetcher: (Connection, String) => Array[Byte] =
    (conn, url) => {
      val local =
        if (url.startsWith("file://")) Some(url.stripPrefix("file://"))
        else if (url.startsWith("/")) Some(url)
        else None
      local match {
        case Some(p) =>
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        case None if url.startsWith("http://") || url.startsWith("https://") =>
          httpFetch(url)
        case None if url.startsWith("s3://") || url.startsWith("gs://") =>
          val creds = credStore.getOrElse(conn.credentialRef,
            throw new NonRetryableFetchException(
              s"connection '${conn.name}' has no registered credentials " +
                s"(credentialRef='${conn.credentialRef}') for $url"))
          objectStoreFetch(conn, url, creds)
        case None =>
          throw new NonRetryableFetchException(s"unsupported scheme: $url")
      }
    }

  /** `getObject(url)` resolved through a named connection; errors on an
    * unknown connection like the reference does. URL validation happens
    * per-row inside the task ([[validate]]).
    */
  def getObject(spark: SparkSession, connectionName: String)(url: Column): Column = {
    val conn = registry.getOrElse(connectionName,
      throw new IllegalArgumentException(s"unknown connection $connectionName"))
    val f = fetcher
    udf((u: String) =>
      if (u == null) null else { validate(conn, u); f(conn, u) }).apply(url)
  }
}
