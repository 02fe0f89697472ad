package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Reference-named JSON function pack.
  *
  * Ports `unnest_json_array` (aqueducts/core/src/custom_udfs.rs:14-58) and
  * the `datafusion-functions-json` alias surface registered at
  * custom_udfs.rs:67, so stage SQL written against the reference runs
  * unchanged.
  *
  * These are compatibility shims implemented as Scala UDFs (not codegen'd):
  * the engine's native, whole-stage-codegen path for JSON is Spark's
  * built-ins (`get_json_object`, `from_json`, `json_tuple`,
  * `json_array_length`, `json_object_keys`), which stage authors should
  * prefer for hot paths. Registering the aliases costs nothing at plan time
  * when unused.
  *
  * Path syntax: plain key (`"a"`), dotted (`"a.b"`), or array index
  * (`"a[0].b"`). Documented divergence: the reference pack treats each key
  * argument literally (a key named `"a.b"` is one key), while this pack
  * interprets `.`/`[n]` as path navigation — a superset for the common
  * case, but a JSON object whose key text itself contains `.` or `[` needs
  * the nested form here.
  */
object JsonUdfs {

  private val mapper = new ObjectMapper()

  private def parse(s: String): Option[JsonNode] =
    if (s == null) None
    else try Option(mapper.readTree(s)) catch { case _: Exception => None }

  /** Navigate `a.b[2].c`-style paths. */
  private def nav(root: JsonNode, path: String): Option[JsonNode] = {
    val steps = path.split('.').flatMap { seg =>
      val m = java.util.regex.Pattern.compile("""([^\[\]]+)|\[(\d+)\]""").matcher(seg)
      val out = Seq.newBuilder[Either[String, Int]]
      while (m.find())
        out += (if (m.group(1) != null) Left(m.group(1)) else Right(m.group(2).toInt))
      out.result()
    }
    steps.foldLeft(Option(root)) {
      case (Some(n), Left(k)) if n.isObject => Option(n.get(k))
      case (Some(n), Right(i)) if n.isArray => Option(n.get(i))
      case _ => None
    }.filterNot(_.isNull)
  }

  /** Raw JSON text of each element of a JSON array (objects/arrays keep their
    * JSON form, scalars their literal text) — exact reference semantics:
    * null input → null, non-array input → error (custom_udfs.rs:34-53).
    */
  def unnestJsonArray(s: String): Seq[String] =
    if (s == null) null
    else parse(s) match {
      case Some(n) if n.isArray =>
        n.elements().asScala.map(e => if (e.isTextual) e.asText() else e.toString).toSeq
      case Some(_) => throw new IllegalArgumentException(
        s"unnest_json_array expects a JSON array, got: ${s.take(40)}")
      case None => throw new IllegalArgumentException(
        s"unnest_json_array could not parse JSON: ${s.take(40)}")
    }

  /** Register once per session — avoids the "replaced a previously registered
    * function" log storm when pipelines run repeatedly in one session.
    * Weakly keyed: a long-lived service creating per-job sessions must not
    * pin them here forever.
    */
  private val registeredSessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  def registerOnce(spark: SparkSession): Unit =
    if (registeredSessions.add(spark)) registerAll(spark)

  /** Register the whole pack on a session (idempotent); a later
    * [[registerOnce]] on that session does nothing. */
  def register(spark: SparkSession): Unit = {
    registeredSessions.add(spark)
    registerAll(spark)
  }

  private def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("unnest_json_array", (s: String) => unnestJsonArray(s))
    // json_get: the `->` operator's function form (SqlRewrite maps X->'k'
    // here); keeps the JSON form of the extracted node, like the reference
    spark.udf.register("json_get", (j: String, p: String) =>
      nav0(j, p).map(_.toString).orNull)
    spark.udf.register("json_get_str", (j: String, p: String) =>
      nav0(j, p).map(n => if (n.isTextual) n.asText() else n.toString).orNull)
    // textual nodes convert only when they parse as the target type —
    // Jackson's asLong()/asDouble() would silently yield 0 for "abc", where
    // the reference pack and a SQL CAST produce NULL
    spark.udf.register("json_get_int", (j: String, p: String) =>
      nav0(j, p).flatMap {
        case n if n.isNumber => Some(n.asLong())
        case n if n.isTextual => scala.util.Try(n.asText().trim.toLong).toOption
        case _ => None
      }.map(java.lang.Long.valueOf).orNull)
    spark.udf.register("json_get_float", (j: String, p: String) =>
      nav0(j, p).flatMap {
        case n if n.isNumber => Some(n.asDouble())
        case n if n.isTextual => scala.util.Try(n.asText().trim.toDouble).toOption
        case _ => None
      }.map(java.lang.Double.valueOf).orNull)
    spark.udf.register("json_get_bool", (j: String, p: String) =>
      nav0(j, p).collect { case n if n.isBoolean => n.asBoolean() }
        .map(java.lang.Boolean.valueOf).orNull)
    spark.udf.register("json_get_json", (j: String, p: String) =>
      nav0(j, p).map(_.toString).orNull)
    spark.udf.register("json_as_text", (j: String, p: String) =>
      nav0(j, p).map(n => if (n.isTextual) n.asText() else n.toString).orNull)
    spark.udf.register("json_contains", (j: String, p: String) =>
      nav0(j, p).isDefined)
    spark.udf.register("json_length", (j: String, p: String) => {
      val node = if (p == null || p.isEmpty) parse(j) else nav0(j, p)
      node.collect {
        case n if n.isArray => n.size()
        case n if n.isObject => n.size()
      }.map(Integer.valueOf).orNull
    })
    spark.udf.register("json_get_array", (j: String, p: String) =>
      nav0(j, p).collect { case n if n.isArray =>
        n.elements().asScala.map(e => if (e.isTextual) e.asText() else e.toString).toSeq
      }.orNull)
    spark.udf.register("json_object_keys", (j: String, p: String) => {
      val node = if (p == null || p.isEmpty) parse(j) else nav0(j, p)
      node.collect { case n if n.isObject => n.fieldNames().asScala.toSeq }.orNull
    })
  }

  private def nav0(j: String, p: String): Option[JsonNode] =
    parse(j).flatMap(nav(_, p))
}
