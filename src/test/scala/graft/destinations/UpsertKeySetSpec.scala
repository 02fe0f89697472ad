package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.sources.DeltaLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Differential spec for [[DeltaWrite.upsert]]'s two ways of matching keys:
  * the driver-built key set (one `InSet` over normal-form keys) against
  * the semi/anti join. Each side is forced through
  * [[DeltaWrite.upsertMatching]]; the same seeded appends and upserts run
  * on two tables, and after every upsert the spec checks on both sides
  *   - the snapshot's rows against a model that applies [[DeltaWrite.keyEquals]]
  *     semantics (`<=>` for scalars, set equality for lists), and the two
  *     sides' rows against each other;
  *   - that the commit removed exactly the files holding a replaced row;
  *   - the version's `readCdf` rows against each other and the model;
  *   - each row's `_row_id` origin and `_row_commit_version` against the
  *     other side, and that no two live rows share a `_row_id`. The origin
  *     is the row that held the id before the upsert, or "fresh": id values
  *     follow each side's file layout, which differs;
  *   - that the key-set side ran fewer Spark jobs than the join side.
  *
  * The table paths carry the case names, spaces and commas included, so
  * matching scanned file paths to add actions is exercised too.
  */
class UpsertKeySetSpec extends SparkSpec {
  import UpsertKeySetSpec._

  private val mapper = new ObjectMapper()

  private def schemaOf(c: KeyCase): StructType = StructType(Seq(
    StructField("uid", LongType), StructField("p", StringType), StructField("v", StringType)) ++
    c.fields)

  /** A row: its uid, its key values (in `c.keys` order), its label. */
  private final case class In(uid: Long, key: Seq[Any], p: Option[String], v: String)

  private def frame(c: KeyCase, rows: Seq[In]): DataFrame = {
    val schema = schemaOf(c)
    val data = rows.map { r =>
      val byName = c.keys.zip(r.key).toMap
      Row.fromSeq(Seq[Any](r.uid, byName.getOrElse("p", r.p.orNull), r.v) ++
        c.fields.map(f => byName(f.name)))
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def keyEq(c: KeyCase)(a: Seq[Any], b: Seq[Any]): Boolean =
    c.keys.indices.forall { i =>
      val dt = (schemaOf(c))(c.keys(i)).dataType
      same(dt, a(i), b(i))
    }

  private def filesOf(t: String): Map[Long, String] = {
    val snap = DeltaLog.snapshot(spark, t)
    DeltaLog.readFiles(spark, t, snap, snap.files, withFilePath = true)
      .select("uid", "_graft_file").collect()
      .map(r => r.getLong(0) -> new Path(r.getString(1)).getName).toMap
  }

  private def removedFiles(t: String, version: Long): Set[String] = {
    val f = java.nio.file.Paths.get(t, "_delta_log", f"$version%020d.json")
    java.nio.file.Files.readString(f).linesIterator.filter(_.trim.nonEmpty)
      .map(mapper.readTree).flatMap(n => Option(n.get("remove")))
      .map(r => new Path(r.get("path").asText).getName).toSet
  }

  private def rowIds(t: String): Map[Long, (Long, Long)] =
    DeltaLog.readWithRowIds(spark, t)
      .select("uid", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def bag[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** What one side saw after an upsert, in layout-free terms. */
  private final case class Seen(rows: Map[String, Int], cdf: Map[String, Int],
      ids: Map[Long, (String, Long)], jobs: Int)

  private def countingJobs[A](op: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = op
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def runCase(c: KeyCase, kind: Kind): Unit = {
    val sides = Seq(DeltaWrite.KeyMatch.KeySet, DeltaWrite.KeyMatch.Join).map { m =>
      val t = tmpDir(s"upsert-keyset-${c.name}-${kind.name}").resolve("t").toString
      DeltaWrite.createIfAbsent(spark, t, schemaOf(c),
        partitionBy = if (kind.partitioned) Seq("p") else Nil, properties = kind.props)
      m -> t
    }
    val tracked = kind.props.get("delta.enableRowTracking").contains("true")
    val cdf = kind.props.get("delta.enableChangeDataFeed").contains("true")
    val rnd = new scala.util.Random(c.name.hashCode ^ kind.name.hashCode)
    var nextUid = 1L
    def row(key: Seq[Any], v: String): In = {
      val u = nextUid; nextUid += 1
      In(u, key, rnd.nextInt(3) match { case 0 => Some("a"); case 1 => Some("b"); case _ => None },
        v)
    }
    var model = Seq.empty[In]
    def append(rows: Seq[In]): Unit = {
      sides.foreach { case (_, t) => DeltaWrite.append(spark, t, frame(c, rows).repartition(2)) }
      model ++= rows
    }
    append(c.stored.map(row(_, "s0")))
    append(c.stored.reverse.map(row(_, "s1")))

    def upsert(label: String, in: Seq[In]): Unit = {
      val eq = keyEq(c) _
      val hit = model.filter(o => in.exists(i => eq(o.key, i.key)))
      val hitUids = hit.map(_.uid).toSet
      val want = model.filterNot(o => hitUids(o.uid)) ++ in
      val seen = sides.map { case (m, t) =>
        val ctx = s"[${c.name} / ${kind.name} / $m] $label"
        val before = DeltaLog.snapshot(spark, t)
        val files0 = filesOf(t)
        val hwm0 = if (tracked) DeltaLog.rowIdHighWaterMark(before) else -1L
        // pre-op row id -> the row that held it
        val holder0: Map[Long, Long] =
          if (tracked) rowIds(t).map { case (u, (id, _)) => id -> u } else Map.empty
        val (v, jobs) = countingJobs(
          DeltaWrite.upsertMatching(spark, t, frame(c, in), c.keys, None, m))
        assert(v == before.version + 1, s"$ctx: version $v after ${before.version}")

        val rows = DeltaLog.read(spark, t).collect().toSeq
        assert(rows.map(_.getAs[Long]("uid")).sorted == want.map(_.uid).sorted,
          s"$ctx: uids after the upsert (hit ${hitUids.toSeq.sorted})")

        val must = hitUids.map(files0)
        assert(removedFiles(t, v) == must, s"$ctx: removed files")

        val cdfRows = if (!cdf) Nil else {
          val got = DeltaLog.readCdf(spark, t, before.version, Some(v)).collect().toSeq
          val wantCdf = hit.map(_.uid -> "update_preimage") ++ in.map { i =>
            i.uid -> (if (hit.exists(o => eq(o.key, i.key))) "update_postimage" else "insert")
          }
          assert(bag(got.map(r => r.getAs[Long]("uid") -> r.getAs[String]("_change_type"))) ==
            bag(wantCdf), s"$ctx: readCdf change types")
          got.map(r => (schemaOf(c).fieldNames :+ "_change_type").map(n => r.getAs[Any](n))
            .mkString("[", ",", "]"))
        }

        val ids = if (!tracked) Map.empty[Long, (String, Long)] else {
          val got = rowIds(t)
          val shared = got.toSeq.groupBy(_._2._1).filter(_._2.size > 1)
          assert(shared.isEmpty, s"$ctx: live rows share a row id: $shared")
          got.map { case (u, (id, ver)) =>
            u -> ((if (id > hwm0) "fresh" else s"held by ${holder0(id)}"), ver)
          }
        }
        Seen(bag(rows.map(_.toString)), bag(cdfRows), ids, jobs)
      }
      val ctx = s"[${c.name} / ${kind.name}] $label"
      assert(seen(0).rows == seen(1).rows, s"$ctx: snapshot rows differ between the sides")
      assert(seen(0).cdf == seen(1).cdf, s"$ctx: readCdf rows differ between the sides")
      assert(seen(0).ids == seen(1).ids, s"$ctx: row ids differ between the sides")
      // the key set replaces the join's broadcast jobs: a forced key-set
      // side that fell back to the join would run as many
      assert(seen(0).jobs < seen(1).jobs,
        s"$ctx: key-set side ran ${seen(0).jobs} jobs, join side ${seen(1).jobs}")
      model = want
    }

    upsert("probes", c.probes.map(row(_, "u0")))
    // the same probes again, each twice: duplicate source keys
    upsert("duplicate probes", c.probes.flatMap(k => Seq(row(k, "u1"), row(k, "u2"))))
    upsert("stored keys", rnd.shuffle(c.stored).take(2).map(row(_, "u3")))
  }

  test("bounded_collect_set: the distinct values up to the limit, NULL past it") {
    import org.apache.spark.sql.functions.{col, size}
    def collected(n: Long, limit: Int): Option[Int] = {
      val r = spark.range(n).select((col("id") % 50).as("k")).repartition(3)
        .agg(BoundedCollectSet(col("k"), limit).as("s")).select(size(col("s"))).head()
      if (r.isNullAt(0) || r.getInt(0) < 0) None else Some(r.getInt(0))
    }
    assert(collected(200, 50) == Some(50))
    assert(collected(200, 49) == None)
    assert(collected(0, 5) == Some(0))
  }

  test(s"a source above ${DeltaWrite.KeySetMaxKeys} distinct keys keeps the join") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val small = spark.newSession()
    small.conf.set("spark.sql.adaptive.enabled", "false")
    small.conf.set("spark.sql.shuffle.partitions", "1")
    val t = tmpDir("upsert-keyset-bound").resolve("t").toString
    DeltaWrite.createIfAbsent(small, t, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    val n = DeltaWrite.KeySetMaxKeys.toLong
    def src(from: Long, to: Long, v: String) =
      small.range(from, to).select(col("id").as("k"), concat(lit(v), col("id")).as("v"))
    DeltaWrite.append(small, t, src(0, n + 1, "a"))
    // exactly at the bound: the key set (aggregate, hit detection, write)
    val (_, atBound) = countingJobs(DeltaWrite.upsert(small, t, src(0, n, "b"), Seq("k")))
    // one key more: the join and its two broadcasts
    val (_, above) = countingJobs(DeltaWrite.upsert(small, t, src(0, n + 1, "c"), Seq("k")))
    assert(atBound == 3 && above == 5, s"jobs at the bound $atBound, above it $above")
    val rows = DeltaLog.read(small, t)
    assert(rows.count() == n + 1 && rows.filter(col("v").startsWith("c")).count() == n + 1)
  }

  for (c <- cases; kind <- kinds)
    test(s"${c.name} on a ${kind.name} table: key set and join upsert alike") {
      runCase(c, kind)
    }
}

object UpsertKeySetSpec {
  /** Keys named `keys` (each a field of `fields`, or the string column
    * `p`); `stored` are the key tuples appended, `probes` the tuples
    * upserted, which hit some stored tuples only under key equality. */
  final case class KeyCase(name: String, fields: Seq[StructField], keys: Seq[String],
      stored: Seq[Seq[Any]], probes: Seq[Seq[Any]])

  final case class Kind(name: String, partitioned: Boolean, props: Map[String, String])

  val kinds: Seq[Kind] = Seq(
    Kind("plain", partitioned = false, Map.empty),
    Kind("partitioned", partitioned = true, Map.empty),
    Kind("row-tracking", partitioned = false, Map("delta.enableRowTracking" -> "true")),
    Kind("cdf", partitioned = false, Map("delta.enableChangeDataFeed" -> "true")))

  /** [[DeltaWrite.keyEquals]] on Scala values: nulls equal, lists as
    * sets, doubles numerically with NaN = NaN, decimals by value. */
  def same(dt: DataType, a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case _ => dt match {
      case _: ArrayType => a.asInstanceOf[Seq[Any]].toSet == b.asInstanceOf[Seq[Any]].toSet
      case DoubleType =>
        val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
        x == y || (x.isNaN && y.isNaN)
      case _: DecimalType =>
        a.asInstanceOf[java.math.BigDecimal].compareTo(b.asInstanceOf[java.math.BigDecimal]) == 0
      case _ => a == b
    }
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  private def date(s: String): java.sql.Date = java.sql.Date.valueOf(s)
  private def dec(s: String): java.math.BigDecimal = new java.math.BigDecimal(s)

  val cases: Seq[KeyCase] = Seq(
    KeyCase("long key with NULLs", Seq(StructField("k", LongType)), Seq("k"),
      stored = Seq(Seq(1L), Seq(2L), Seq(3L), Seq(null)),
      probes = Seq(Seq(2L), Seq(null), Seq(9L))),
    KeyCase("two keys, one a NULL partition value", Seq(StructField("k", LongType)),
      Seq("k", "p"),
      stored = Seq(Seq(1L, "a"), Seq(1L, null), Seq(2L, null), Seq(2L, "b"), Seq(null, null)),
      probes = Seq(Seq(1L, null), Seq(2L, "a"), Seq(null, null), Seq(3L, null))),
    KeyCase("list keys", Seq(StructField("tags", ArrayType(IntegerType))), Seq("tags"),
      stored = Seq(Seq(Seq(1, 2)), Seq(Seq(3, 3, 4)), Seq(Seq(5, null)), Seq(Seq()),
        Seq(null), Seq(Seq(6)), Seq(Seq(1, 2, 9))),
      // reversed, duplicated elements, a NULL element first, empty, NULL, new
      probes = Seq(Seq(Seq(2, 1)), Seq(Seq(4, 3, 4, 3)), Seq(Seq(null, 5)), Seq(Seq()),
        Seq(null), Seq(Seq(7)))),
    KeyCase("double keys with -0.0 and NaN", Seq(StructField("d", DoubleType)), Seq("d"),
      stored = Seq(Seq(-0.0), Seq(1.5), Seq(Double.NaN), Seq(null), Seq(7.25)),
      probes = Seq(Seq(0.0), Seq(Double.NaN), Seq(2.5), Seq(-1.5))),
    KeyCase("decimal, string, date and timestamp keys",
      Seq(StructField("amt", DecimalType(18, 2)), StructField("s", StringType),
        StructField("day", DateType), StructField("at", TimestampType)),
      Seq("amt", "s", "day", "at"),
      stored = Seq(
        Seq(dec("1.50"), "x", date("2024-02-29"), ts("2024-02-29 10:00:00.000001")),
        Seq(dec("1.50"), "x", date("2024-02-29"), ts("2024-02-29 10:00:00.000002")),
        Seq(dec("-3.25"), "é", date("1970-01-01"), ts("1969-12-31 23:59:59.999999")),
        Seq(null, "", null, null),
        Seq(dec("99.99"), "Y", date("2000-01-01"), ts("2000-01-01 00:00:00"))),
      probes = Seq(
        Seq(dec("1.5"), "x", date("2024-02-29"), ts("2024-02-29 10:00:00.000002")),
        Seq(dec("-3.25"), "é", date("1970-01-01"), ts("1969-12-31 23:59:59.999999")),
        Seq(null, "", null, null),
        Seq(dec("99.99"), "y", date("2000-01-01"), ts("2000-01-01 00:00:00")),
        Seq(dec("99.99"), "Y", date("2000-01-02"), ts("2000-01-01 00:00:00")))))
}
