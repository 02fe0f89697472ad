package perfbench

import graft.config.ConfigParser
import graft.run.{Protocol, RemoteClient, Runner}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

/** What every workload gets: the session, the cached input tables, a fresh
  * scratch directory inside the checkout, and the seed.
  */
final case class Ctx(
    spark: SparkSession,
    data: String,
    work: Path,
    seed: Long,
    toy: Boolean,
    corruptExpected: Boolean)

/** One workload: a closed loop of pipelines plus the reference its outputs
  * are checked against. The reference is computed with plain DataFrame code
  * and never goes through `Runner`.
  */
trait Workload {
  /** Input rows one pipeline reads, as stated in the results. */
  def rowsPerPipeline: Long

  /** Starts a phase with fresh output directories and tables. */
  def phase(name: String): Unit

  /** Untimed pipelines that load classes, fill codegen caches and JIT. The
    * first pipelines of a JVM run slower while the JIT compiles the engine's
    * hot paths; timing them widened run-to-run spread.
    */
  def warmup(): Unit

  /** Runs pipelines until `deadline`; the last one started finishes. */
  def loop(deadline: Long, traced: Boolean, nextSeq: () => Int): Seq[PipelineRecord]

  /** Checks every output of the records of the current phase; returns the
    * sequence numbers of wrong pipelines with a reason each.
    */
  def verify(records: Seq[PipelineRecord]): Seq[(Int, String)]

  /** Bytes the destination holds after the last verified pipeline over the
    * bytes of the same rows written once as plain parquet; None without a
    * destination.
    */
  def storageRatio(): Option[Double]

  def close(): Unit
}

object Workloads {
  val Names: Seq[String] = Seq("etl", "delta_upsert", "remote_small")

  /** Scale factors: the etl tables, the upsert source, the remote tables. */
  def scales(toy: Boolean): (Double, Double, Double) =
    if (toy) (0.001, 0.01, 0.001) else (0.01, 0.1, 0.001)

  /** Tables each scale factor needs: etl reads all four, delta_upsert
    * orders, remote_small orders and customer.
    */
  def inputs(toy: Boolean): Map[Double, Set[String]] = {
    val (etl, upsert, remote) = scales(toy)
    Seq(etl -> Set("nation", "customer", "orders", "lineitem"), upsert -> Set("orders"),
      remote -> Set("orders", "customer")).groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  def apply(name: String, ctx: Ctx): Workload = {
    val (etl, upsert, remote) = scales(ctx.toy)
    name match {
      case "etl" => new Etl(ctx, etl)
      case "delta_upsert" => new DeltaUpsert(ctx, upsert)
      case "remote_small" => new RemoteSmall(ctx, remote)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** Order-independent digest of a frame: rows rendered with columns in name
    * order, sorted, hashed.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) "\\N" else r.getString(i)).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Bytes under `dir` over the bytes of `rows` written once as one plain
    * parquet file next to it.
    */
  def plainRatio(ctx: Ctx, rows: DataFrame, dir: Path): Double = {
    val plain = ctx.work.resolve("plain-copy")
    rows.coalesce(1).write.mode("overwrite").parquet(plain.toString)
    val ratio = Listing.bytes(dir).toDouble / Listing.bytes(plain)
    deleteTree(plain)
    ratio
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  /** Calls the engine the way an embedding user does: parse, then run. */
  def inProcess(spark: SparkSession, seq: Int, kind: String, yaml: String,
      params: Map[String, String], traced: Boolean, listing: Option[Path] = None)(
      consume: Option[DataFrame] => Unit): PipelineRecord = {
    val clock = new EventClock
    val group = if (traced) Some(s"perfbench-$seq") else None
    group.foreach(g => spark.sparkContext.setJobGroup(g, s"pipeline $seq", interruptOnCancel = false))
    val t0 = System.nanoTime()
    var t1 = t0
    val err =
      try {
        val pipeline = ConfigParser.fromYaml(yaml, params)
        t1 = System.nanoTime()
        consume(Runner.run(spark, pipeline, clock))
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      finally if (traced) spark.sparkContext.clearJobGroup()
    val t2 = System.nanoTime()
    PipelineRecord(seq, kind, t0, t1, t2, clock.events, group = group, error = err,
      listing = if (traced) listing.map(Listing.of) else None)
  }
}

/** Canonical aqueducts shape: four parquet sources, a concurrent stage group,
  * a stage consumed twice (Runner persists it), joins, aggregates and a
  * window, written as hive-partitioned parquet to a fresh directory.
  */
final class Etl(ctx: Ctx, sf: Double) extends Workload {
  import Workloads._
  private val data = Data.dir(ctx.data, sf)
  private val rng = new Random(ctx.seed)
  // cut-offs within the first 90 days keep the rows read per pipeline nearly
  // the same on every seed while each variant writes a different report
  private val cutoffs = IndexedSeq.fill(2)(
    java.time.LocalDate.of(1992, 1, 1).plusDays(rng.nextInt(90).toLong).toString)
  private var outRoot: Path = ctx.work
  private val runs = mutable.Map.empty[Int, (String, Path)]

  val yaml: String =
    """version: "v2"
      |sources:
      |  - { type: file, name: lineitem, format: { type: parquet }, location: "${data}/lineitem.parquet" }
      |  - { type: file, name: orders, format: { type: parquet }, location: "${data}/orders.parquet" }
      |  - { type: file, name: customer, format: { type: parquet }, location: "${data}/customer.parquet" }
      |  - { type: file, name: nation, format: { type: parquet }, location: "${data}/nation.parquet" }
      |stages:
      |  - - name: shipped
      |      query: >
      |        SELECT l_orderkey, l_returnflag, l_quantity,
      |               l_extendedprice * (1 - l_discount) AS revenue
      |        FROM lineitem WHERE l_shipdate >= DATE '${ship_from}'
      |    - name: cust_nation
      |      query: >
      |        SELECT c_custkey, c_mktsegment, n_name
      |        FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  - - name: order_revenue
      |      query: >
      |        SELECT o_orderkey, o_custkey, year(o_orderdate) AS o_year,
      |               sum(revenue) AS revenue, count(*) AS lines
      |        FROM shipped JOIN orders ON l_orderkey = o_orderkey
      |        GROUP BY o_orderkey, o_custkey, year(o_orderdate)
      |    - name: flag_totals
      |      query: >
      |        SELECT l_returnflag, sum(revenue) AS flag_revenue, sum(l_quantity) AS flag_qty
      |        FROM shipped GROUP BY l_returnflag
      |  - - name: report
      |      query: >
      |        SELECT n_name, c_mktsegment, o_year,
      |               CAST(sum(revenue) AS DECIMAL(18,2)) AS revenue,
      |               sum(lines) AS lines, count(*) AS orders,
      |               rank() OVER (PARTITION BY c_mktsegment, o_year
      |                            ORDER BY sum(revenue) DESC, n_name) AS nation_rank,
      |               CAST(sum(revenue) / (SELECT sum(flag_revenue) FROM flag_totals)
      |                    AS DECIMAL(12,8)) AS revenue_share
      |        FROM order_revenue JOIN cust_nation ON o_custkey = c_custkey
      |        GROUP BY n_name, c_mktsegment, o_year
      |destination:
      |  type: file
      |  name: report
      |  format: { type: parquet }
      |  location: "${out}"
      |  single_file: false
      |  partition_columns: [c_mktsegment]
      |""".stripMargin

  def rowsPerPipeline: Long = {
    val n = Data.orderRows(sf)
    ctx.spark.read.parquet(s"$data/lineitem.parquet").count() + n + n / 10 + 25
  }

  def phase(name: String): Unit = {
    outRoot = ctx.work.resolve(s"etl-$name")
    Files.createDirectories(outRoot)
  }

  private def one(seq: Int, traced: Boolean): PipelineRecord = {
    val cutoff = cutoffs(rng.nextInt(cutoffs.size))
    val out = outRoot.resolve(s"report-$seq")
    runs(seq) = (cutoff, out)
    inProcess(ctx.spark, seq, "etl", yaml,
      Map("data" -> data, "ship_from" -> cutoff, "out" -> out.toString), traced, Some(out))(_ => ())
  }

  def warmup(): Unit = (1 to 5).foreach(i => one(-i, traced = false))

  def loop(deadline: Long, traced: Boolean, nextSeq: () => Int): Seq[PipelineRecord] = {
    val recs = mutable.ArrayBuffer.empty[PipelineRecord]
    while (System.nanoTime() < deadline) recs += one(nextSeq(), traced)
    recs.toSeq
  }

  /** The report by DataFrame code, for one cut-off. */
  private def reference(cutoff: String): DataFrame = {
    val s = ctx.spark
    def t(n: String) = s.read.parquet(s"$data/$n.parquet")
    val shipped = t("lineitem").filter(col("l_shipdate") >= lit(java.sql.Date.valueOf(cutoff)))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    val custNation = t("customer").join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_mktsegment", "n_name")
    val orderRevenue = shipped.join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
      .agg(sum("revenue").as("revenue"), count(lit(1)).as("lines"))
    val total = shipped.groupBy("l_returnflag").agg(sum("revenue").as("flag_revenue"))
      .agg(sum("flag_revenue").as("total"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("c_mktsegment", "o_year")
      .orderBy(col("rev_sum").desc, col("n_name"))
    orderRevenue.join(custNation, col("o_custkey") === col("c_custkey"))
      .groupBy("n_name", "c_mktsegment", "o_year")
      .agg(sum("revenue").as("rev_sum"), sum("lines").as("lines"), count(lit(1)).as("orders"))
      .crossJoin(total)
      .select(col("n_name"), col("c_mktsegment"), col("o_year"),
        col("rev_sum").cast(DecimalType(18, 2)).as("revenue"), col("lines"), col("orders"),
        rank().over(w).as("nation_rank"),
        (col("rev_sum") / col("total")).cast(DecimalType(12, 8)).as("revenue_share"))
  }

  def verify(records: Seq[PipelineRecord]): Seq[(Int, String)] = {
    val expected = mutable.Map.empty[String, String]
    val bad = records.filter(_.error.isEmpty).flatMap { r =>
      val (cutoff, out) = runs(r.seq)
      val want = expected.getOrElseUpdate(cutoff,
        (if (ctx.corruptExpected) "corrupted-" else "") + digest(reference(cutoff)))
      val got = digest(ctx.spark.read.parquet(out.toString))
      if (got == want) None else Some(r.seq -> s"report digest $got, expected $want")
    }
    records.foreach(r => runs.remove(r.seq).foreach(x => deleteTree(x._2)))
    bad
  }

  def storageRatio(): Option[Double] = None

  def close(): Unit = ()
}

/** Keyed upserts of 1 % order slices into one real Delta table, with a
  * time-travel read every fifth iteration, so that the traced half of a
  * short run holds one.
  */
final class DeltaUpsert(ctx: Ctx, sf: Double) extends Workload {
  import Workloads._
  private val data = Data.dir(ctx.data, sf)
  private val rng = new Random(ctx.seed)
  // iterations cycle through a seed-chosen pool of five slices: the first
  // five insert, every later one updates keys an earlier one wrote, so each
  // seed does the same mix of inserts and updates
  private val pool = rng.shuffle((0 until 100).toVector).take(5)
  private var table: Path = ctx.work
  /** Upserts of the current phase in commit order: (slice, multiplier). */
  private val commits = mutable.ArrayBuffer.empty[(Int, Int)]
  /** Time-travel reads: seq → (version, rows, total). */
  private val reads = mutable.Map.empty[Int, (Int, Long, java.math.BigDecimal)]
  private var iteration = 0

  val upsertYaml: String =
    """version: "v2"
      |sources:
      |  - { type: file, name: orders, format: { type: parquet }, location: "${data}/orders.parquet" }
      |stages:
      |  - - name: slice
      |      query: >
      |        SELECT o_orderkey, o_custkey, o_orderstatus,
      |               CAST(o_totalprice * ${mult} AS DECIMAL(18,2)) AS o_totalprice,
      |               ${mult} AS mult
      |        FROM orders WHERE o_orderkey % 100 = ${slice}
      |destination:
      |  type: delta
      |  name: orders_latest
      |  location: "${table}"
      |  write_mode: { operation: upsert, params: [o_orderkey] }
      |  table_properties: { format: delta_log }
      |  schema:
      |    - { name: o_orderkey, data_type: int64 }
      |    - { name: o_custkey, data_type: int64 }
      |    - { name: o_orderstatus, data_type: string }
      |    - { name: o_totalprice, data_type: "decimal<18,2>" }
      |    - { name: mult, data_type: int32 }
      |""".stripMargin

  val readYaml: String =
    """version: "v2"
      |sources:
      |  - { type: delta, name: history, location: "${table}", version: ${version} }
      |stages:
      |  - - name: totals
      |      query: >
      |        SELECT count(*) AS n, CAST(sum(o_totalprice) AS DECIMAL(28,2)) AS total
      |        FROM history
      |""".stripMargin

  val stateYaml: String =
    """version: "v2"
      |sources:
      |  - { type: delta, name: latest, location: "${table}" }
      |stages:
      |  - - name: state
      |      query: SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, mult FROM latest
      |""".stripMargin

  def rowsPerPipeline: Long = Data.orderRows(sf) / 100

  def phase(name: String): Unit = {
    table = ctx.work.resolve(s"delta-$name")
    commits.clear()
    iteration = 0
  }

  private def upsert(seq: Int, traced: Boolean): PipelineRecord = {
    val (slice, mult) = (pool(commits.size % pool.size), 1 + rng.nextInt(9))
    val r = inProcess(ctx.spark, seq, "upsert", upsertYaml,
      Map("data" -> data, "table" -> table.toString, "slice" -> slice.toString,
        "mult" -> mult.toString), traced, Some(table))(_ => ())
    if (r.error.isEmpty) commits += ((slice, mult))
    r
  }

  private def timeTravel(seq: Int, traced: Boolean): PipelineRecord = {
    val version = 1 + rng.nextInt(commits.size)
    inProcess(ctx.spark, seq, "timetravel", readYaml,
      Map("table" -> table.toString, "version" -> version.toString), traced) { out =>
      val row = out.get.collect().head
      reads(seq) = (version, row.getLong(0), row.getDecimal(1))
      ctx.spark.catalog.dropTempView("totals")
    }
  }

  private def one(seq: () => Int, traced: Boolean): Seq[PipelineRecord] = {
    iteration += 1
    val u = upsert(seq(), traced)
    if (iteration % 5 == 0 && commits.nonEmpty) Seq(u, timeTravel(seq(), traced)) else Seq(u)
  }

  /** Five iterations into a table of its own: five upserts and one read. */
  def warmup(): Unit = {
    var seq = 0
    (1 to 5).foreach(_ => one(() => { seq -= 1; seq }, traced = false))
  }

  def loop(deadline: Long, traced: Boolean, nextSeq: () => Int): Seq[PipelineRecord] = {
    val recs = mutable.ArrayBuffer.empty[PipelineRecord]
    while (System.nanoTime() < deadline) recs ++= one(nextSeq, traced)
    recs.toSeq
  }

  /** Table state after the first `version` commits, by DataFrame code: each
    * key keeps the multiplier of the last commit whose slice holds it.
    */
  private def reference(version: Int): DataFrame = {
    val s = ctx.spark
    import s.implicits._
    val log = commits.take(version).zipWithIndex.map { case ((sl, m), i) => (i, sl, m) }
      .toSeq.toDF("commit", "slice", "mult")
    val last = log.groupBy("slice").agg(max("commit").as("commit"))
      .join(log, Seq("slice", "commit"))
    s.read.parquet(s"$data/orders.parquet")
      .join(last, col("o_orderkey") % 100 === col("slice"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") * col("mult")).cast(DecimalType(18, 2)).as("o_totalprice"),
        col("mult"))
  }

  def verify(records: Seq[PipelineRecord]): Seq[(Int, String)] = {
    val bad = mutable.ArrayBuffer.empty[(Int, String)]
    records.filter(r => r.kind == "timetravel" && r.error.isEmpty).foreach { r =>
      val (v, n, total) = reads(r.seq)
      val ref = reference(v).agg(count(lit(1)), sum("o_totalprice").cast(DecimalType(28, 2)))
        .collect().head
      val want = (ref.getLong(0) + (if (ctx.corruptExpected) 1 else 0), ref.getDecimal(1))
      if ((n, total) != want) bad += (r.seq -> s"version $v read ($n, $total), expected $want")
    }
    // the final state is one check over every upsert of the phase
    val upserts = records.filter(r => r.kind == "upsert" && r.error.isEmpty)
    if (upserts.nonEmpty) {
      val got = inProcess(ctx.spark, 0, "check", stateYaml, Map("table" -> table.toString),
        traced = false) { out =>
        val d = digest(out.get)
        ctx.spark.catalog.dropTempView("state")
        if (d != (if (ctx.corruptExpected) "corrupted-" else "") + digest(reference(commits.size)))
          bad += (upserts.last.seq -> s"final table state differs after ${commits.size} commits")
      }
      got.error.foreach(e => bad += (upserts.last.seq -> s"final state read failed: $e"))
    }
    bad.toSeq
  }

  def storageRatio(): Option[Double] =
    if (commits.isEmpty) None else Some(plainRatio(ctx, reference(commits.size), table))

  def close(): Unit = ()
}

/** Tiny templated pipelines submitted by two clients, each on its own
  * connection, to an in-process executor service over NDJSON/TCP.
  */
final class RemoteSmall(ctx: Ctx, sf: Double) extends Workload {
  import Workloads._
  private val data = Data.dir(ctx.data, sf)
  private val server = new graft.run.Server(ctx.spark, 0)
  private val rng = new Random(ctx.seed)
  private val variants = IndexedSeq.fill(6)(
    (Data.Priorities(rng.nextInt(Data.Priorities.size)), (10000 * rng.nextInt(20)).toString))
  /** seq → (variant, show text received). */
  private val shown = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  val Clients = 2

  val yaml: String =
    """version: "v2"
      |sources:
      |  - { type: file, name: orders, format: { type: parquet }, location: "${data}/orders.parquet" }
      |  - { type: file, name: customer, format: { type: parquet }, location: "${data}/customer.parquet" }
      |stages:
      |  - - name: picked
      |      query: >
      |        SELECT o_custkey, o_totalprice FROM orders
      |        WHERE o_orderpriority = '${priority}' AND o_totalprice > ${min_price}
      |  - - name: by_segment
      |      query: >
      |        SELECT c_mktsegment, count(*) AS orders,
      |               CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS total
      |        FROM picked JOIN customer ON o_custkey = c_custkey
      |        GROUP BY c_mktsegment ORDER BY c_mktsegment
      |      show: 10
      |""".stripMargin

  def rowsPerPipeline: Long = Data.orderRows(sf) + math.round(150000 * sf)

  def phase(name: String): Unit = ()

  private def one(seq: Int, client: Random): PipelineRecord = {
    val v = client.nextInt(variants.size)
    val (prio, minPrice) = variants(v)
    val params = Map("data" -> data, "priority" -> prio, "min_price" -> minPrice)
    val clock = new EventClock
    val messages = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val chunks = new java.util.concurrent.ConcurrentLinkedQueue[Protocol.StageOutputChunk]()
    val t0 = System.nanoTime()
    // rendered and validated client-side, as `run --executor` does
    ConfigParser.fromYaml(yaml, params)
    val rendered = ConfigParser.substitute(yaml, params)
    val t1 = System.nanoTime()
    val handle = RemoteClient.submit("127.0.0.1", server.boundPort, rendered, None, { m =>
      val at = System.nanoTime()
      messages.incrementAndGet()
      bytes.addAndGet(Protocol.write(m).getBytes("UTF-8").length + 1L)
      m match {
        case Protocol.ProgressUpdate(_, _, ev) => EventClock.parse(ev).foreach(clock.record(at, _))
        case c: Protocol.StageOutputChunk => chunks.add(c)
        case _ => ()
      }
    })
    val result = handle.result(120)
    val t2 = System.nanoTime()
    handle.close()
    shown.put(seq, (v, chunks.asScala.toSeq.filter(_.stage == "by_segment").sortBy(_.seq)
      .map(_.body).mkString))
    val terminal = Protocol.write(Protocol.ExecutionSucceeded(handle.requestId)).getBytes("UTF-8").length + 1L
    PipelineRecord(seq, "remote", t0, t1, t2, clock.events, submit = Some(t1),
      messages = messages.get + 1, bytesIn = bytes.get + terminal, error = result.left.toOption)
  }

  def warmup(): Unit = {
    val r = new Random(ctx.seed)
    (1 to 6).foreach(i => one(-i, r))
  }

  def loop(deadline: Long, traced: Boolean, nextSeq: () => Int): Seq[PipelineRecord] = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[PipelineRecord]()
    val threads = (0 until Clients).map { c =>
      val r = new Random(ctx.seed * 31 + c)
      val t = new Thread(() => while (System.nanoTime() < deadline) recs.add(one(nextSeq(), r)),
        s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val all = recs.asScala.toSeq.sortBy(_.start)
    // the service runs one pipeline at a time: a request could start once it
    // was sent and the pipeline before it had answered
    val ends = all.map(_.end).sorted
    all.map { r =>
      val started = r.at { case graft.run.ProgressEvent.Started => true }.headOption.getOrElse(r.end)
      val prev = ends.filter(e => e <= started && e != r.end).lastOption.getOrElse(Long.MinValue)
      r.copy(ready = Some(math.max(r.submit.get, prev)))
    }
  }

  private def reference(v: Int): String = {
    val (prio, minPrice) = variants(v)
    val s = ctx.spark
    val df = s.read.parquet(s"$data/orders.parquet")
      .filter(col("o_orderpriority") === prio && col("o_totalprice") > lit(minPrice.toInt))
      .select("o_custkey", "o_totalprice")
      .join(s.read.parquet(s"$data/customer.parquet"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("orders"), sum("o_totalprice").cast(DecimalType(18, 2)).as("total"))
      .orderBy("c_mktsegment")
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos, true, "UTF-8"))(df.show(10, truncate = false))
    (if (ctx.corruptExpected) "corrupted\n" else "") + baos.toString("UTF-8")
  }

  def verify(records: Seq[PipelineRecord]): Seq[(Int, String)] = {
    val expected = mutable.Map.empty[Int, String]
    records.filter(_.error.isEmpty).flatMap { r =>
      val (v, text) = shown.remove(r.seq)
      if (text == expected.getOrElseUpdate(v, reference(v))) None
      else Some(r.seq -> s"show output of variant $v differs")
    }
  }

  def storageRatio(): Option[Double] = None

  def close(): Unit = server.close()
}
