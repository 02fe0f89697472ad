package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.config.ReplaceCondition
import graft.sources.DeltaLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Differential spec for the Delta row-level rewrite ops (upsert, merge,
  * update, replace, copy-on-write and deletion-vector delete): a seeded
  * sequence of ops runs against a real table and against a plain
  * in-memory model of its rows, on every table kind the writer supports
  * (plain, partitioned, column-mapped, row-tracking, CDF, deletion
  * vectors). After every op the spec checks
  *   - the snapshot's rows against the model (as a multiset);
  *   - the version's `readCdf` rows against the model's change set;
  *   - each row's `_row_id` / `_row_commit_version` against the row's
  *     origin (kept, updated, inherited from matched rows, or fresh),
  *     and that no two live rows share a `_row_id`;
  *   - that the commit removed every file holding a changed row and no
  *     file outside the op's hit set.
  *
  * Every row carries a unique `uid`, which follows a row through updates
  * and is fresh for every written incoming row, so the model can name the
  * rows a commit touched.
  */
class RowRewriteSpec extends SparkSpec {
  import RowRewriteSpec._

  private val mapper = new ObjectMapper()

  private val baseSchema = StructType(Seq(
    StructField("uid", LongType), StructField("k", LongType), StructField("p", StringType),
    StructField("v", StringType), StructField("tags", ArrayType(IntegerType))))

  private def toRow(r: R, withExtra: Boolean): Row = {
    val base = Seq[Any](r.uid, r.k.map(Long.box).orNull, r.p.orNull, r.v,
      r.tags.orNull)
    Row.fromSeq(if (withExtra) base :+ r.extra.orNull else base)
  }

  private def frame(rows: Seq[R], withExtra: Boolean = false): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(toRow(_, withExtra)): _*),
      if (withExtra) baseSchema.add("extra", StringType) else baseSchema)

  private def fromRow(r: Row): R = {
    def opt[A](n: String): Option[A] =
      if (!r.schema.fieldNames.contains(n) || r.isNullAt(r.fieldIndex(n))) None
      else Some(r.getAs[A](n))
    R(r.getAs[Long]("uid"), opt[Long]("k"), opt[String]("p"), r.getAs[String]("v"),
      opt[scala.collection.Seq[Int]]("tags").map(_.toList), opt[String]("extra"))
  }

  private def bag[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** uid → name of the data file that holds the row. */
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

  /** Runs `op` against the table, applies `expect` to the model, and
    * checks the table against it. */
  private final class Harness(kind: Kind, t: String) {
    var model: Seq[R] = Nil
    private var nextUid = 1L
    private val tracked = kind.props.get("delta.enableRowTracking").contains("true")
    private val cdf = kind.props.get("delta.enableChangeDataFeed").contains("true")

    def uid(): Long = { val u = nextUid; nextUid += 1; u }

    def run(label: String)(op: => Long)(expect: => Outcome): Unit = {
      val before = DeltaLog.snapshot(spark, t)
      val files0 = filesOf(t)
      val ids0 = if (tracked) rowIds(t) else Map.empty[Long, (Long, Long)]
      val hwm0 = if (tracked) DeltaLog.rowIdHighWaterMark(before) else -1L
      val out = expect
      val v = op
      val ctx = s"[${kind.name}] $label"

      val rows = DeltaLog.read(spark, t).collect().map(fromRow).toSeq
      val want = out.after.map(_._1)
      assert(bag(rows) == bag(want),
        s"$ctx: table rows\n  got  ${rows.sortBy(_.uid)}\n  want ${want.sortBy(_.uid)}")

      if (v == before.version) {
        assert(out.changes.isEmpty && out.mustRemove.isEmpty,
          s"$ctx: no commit, but the model changed rows: ${out.changes}")
      } else {
        assert(v == before.version + 1, s"$ctx: version $v after ${before.version}")
        val removed = removedFiles(t, v)
        val must = out.mustRemove.map(files0)
        val may = out.mayRemove.fold(files0.values.toSet)(_.flatMap(files0.get))
        assert(must.subsetOf(removed), s"$ctx: files with changed rows kept: ${must -- removed}")
        assert(removed.subsetOf(may), s"$ctx: untouched files removed: ${removed -- may}")

        if (cdf) {
          val got = DeltaLog.readCdf(spark, t, before.version, Some(v)).collect()
            .map(r => fromRow(r) -> r.getAs[String]("_change_type")).toSeq
          assert(bag(got) == bag(out.changes),
            s"$ctx: readCdf at $v\n  got  ${got.sortBy(_._1.uid)}\n" +
              s"  want ${out.changes.sortBy(_._1.uid)}")
        }

        if (tracked) {
          val ids1 = rowIds(t)
          val fresh = Seq.newBuilder[Long]
          out.after.foreach { case (r, origin) =>
            val (id, ver) = ids1(r.uid)
            origin match {
              case Kept => assert(ids1(r.uid) == ids0(r.uid), s"$ctx: kept row $r moved")
              case Updated =>
                assert(id == ids0(r.uid)._1 && ver == v, s"$ctx: updated $r got ($id, $ver)")
              case Inherit(from) =>
                val min = from.map(u => ids0(u)._1).min
                assert(id == min && ver == v, s"$ctx: upserted $r got ($id, $ver), want ($min, $v)")
              case Fresh =>
                assert(id > hwm0 && ver == v, s"$ctx: fresh $r got ($id, $ver) at mark $hwm0")
                fresh += id
            }
          }
          val f = fresh.result()
          assert(f.distinct.size == f.size, s"$ctx: fresh row ids repeat: $f")
          val live = ids1.toSeq.map { case (u, (id, _)) => id -> u }
          val shared = live.groupBy(_._1).filter(_._2.size > 1)
          assert(shared.isEmpty, s"$ctx: live rows share a row id (id -> uids): $shared")
        }
      }
      model = want
    }
  }

  private def runKind(kind: Kind): Unit = {
    val t = tmpDir(s"rowrewrite-${kind.name}").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, t, baseSchema,
      partitionBy = if (kind.partitioned) Seq("p") else Nil, properties = kind.props)
    val rnd = new scala.util.Random(kind.seed)
    val h = new Harness(kind, t)

    def pickP(): Option[String] = rnd.nextInt(3) match {
      case 0 => Some("a")
      case 1 => Some("b")
      case _ => None
    }
    // tag sets are unique per row (a set-equal array key never appears
    // twice in different orders); every fifth row has NULL tags
    def tagsOf(u: Long): Option[List[Int]] =
      if (u % 5 == 0) None else Some(List(u.toInt, u.toInt + 100))
    def fresh(k: Option[Long], v: String): R = {
      val u = h.uid()
      R(u, k, pickP(), v, tagsOf(u))
    }
    def someK(): Option[Long] =
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(10).toLong)
    def existingKs(n: Int): Seq[Long] =
      rnd.shuffle(h.model.flatMap(_.k).distinct).take(n)

    def keyEq(keys: Seq[String])(a: R, b: R): Boolean = keys.forall {
      case "k" => a.k == b.k
      case "p" => a.p == b.p
      case "tags" => (a.tags, b.tags) match {
        case (None, None) => true
        case (Some(x), Some(y)) => x.toSet == y.toSet
        case _ => false
      }
    }

    def append(step: String): Unit = {
      val rows = (0 until 4 + rnd.nextInt(4)).map(_ => fresh(someK(), s"a$step"))
      h.run(s"append $step")(DeltaWrite.append(spark, t, frame(rows).repartition(3))) {
        Outcome(h.model.map(_ -> Kept) ++ rows.map(_ -> Fresh),
          rows.map(_ -> "insert"), Set.empty, Some(Set.empty))
      }
    }

    def upsert(label: String, keys: Seq[String], in: Seq[R]): Unit =
      h.run(s"upsert $label")(DeltaWrite.upsert(spark, t, frame(in), keys)) {
        val eq = keyEq(keys) _
        val hit = h.model.filter(o => in.exists(eq(o, _)))
        val hitUids = hit.map(_.uid).toSet
        // one incoming row per replaced key group inherits the group's
        // smallest id: the first in table-column order, which here is the
        // smallest uid; the group's other incoming rows take fresh ids
        val after = h.model.filterNot(o => hitUids(o.uid)).map(_ -> Kept) ++ in.map { i =>
          val ms = hit.filter(eq(_, i))
          val first = in.filter(eq(_, i)).map(_.uid).min == i.uid
          i -> (if (ms.isEmpty || !first) Fresh else Inherit(ms.map(_.uid)))
        }
        val changes = hit.map(_ -> "update_preimage") ++ in.map { i =>
          i -> (if (hit.exists(eq(_, i))) "update_postimage" else "insert")
        }
        Outcome(after, changes, hitUids, Some(hitUids))
      }

    /** The model of a `t.k = s.k` merge: `onMatch` acts on a target row
      * and its one source row, `onNotMatched` maps an unmatched source row
      * to the row it inserts, `bySource` acts on unmatched target rows. */
    def mergeModel(src: Seq[R], onMatch: (R, R) => Act, onNotMatched: R => Option[R],
        bySource: Option[R => Act]): Outcome = {
      def hits(o: R, s: R) = o.k.isDefined && o.k == s.k
      val after = Seq.newBuilder[(R, Origin)]
      val changes = Seq.newBuilder[(R, String)]
      val changed = Set.newBuilder[Long]
      h.model.foreach { o =>
        val ss = src.filter(hits(o, _))
        assert(ss.size <= 1, "merge sources are unique per key")
        val act = ss.headOption.map(onMatch(o, _)).getOrElse(bySource.fold(Keep: Act)(_(o)))
        act match {
          case Keep => after += (o -> Kept)
          case Del => changes += (o -> "delete"); changed += o.uid
          case Upd(n) =>
            after += (n -> Updated)
            changes += (o -> "update_preimage") += (n -> "update_postimage")
            changed += o.uid
        }
      }
      src.filterNot(s => h.model.exists(hits(_, s))).flatMap(onNotMatched).foreach { n =>
        after += (n -> Fresh); changes += (n -> "insert")
      }
      val hitUids = h.model.filter(o => src.exists(hits(o, _))).map(_.uid).toSet
      Outcome(after.result(), changes.result(), changed.result(),
        if (bySource.isDefined) None else Some(hitUids))
    }

    def mergeSource(prefix: String): Seq[R] = {
      val ks = existingKs(1 + rnd.nextInt(3)) ++ Seq(10L + rnd.nextInt(5), 20L + rnd.nextInt(5))
      val rows = ks.distinct.map(k => fresh(Some(k), s"$prefix${rnd.nextInt(3)}"))
      if (rnd.nextBoolean()) rows :+ fresh(None, s"${prefix}null") else rows
    }
    val allCols = Map("uid" -> "s.uid", "k" -> "s.k", "p" -> "s.p", "v" -> "s.v",
      "tags" -> "s.tags")
    import DeltaWrite.MergeClause._

    def replace(label: String, in: Seq[R], conds: Seq[ReplaceCondition],
        pred: R => Boolean): Unit =
      h.run(s"replace $label")(DeltaWrite.replace(spark, t, frame(in), conds)) {
        val gone = h.model.filter(pred)
        Outcome(h.model.filterNot(pred).map(_ -> Kept) ++ in.map(_ -> Fresh),
          gone.map(_ -> "delete") ++ in.map(_ -> "insert"),
          gone.map(_.uid).toSet, Some(gone.map(_.uid).toSet))
      }

    def delete(predicate: String, pred: R => Option[Boolean]): Unit =
      h.run(s"delete $predicate")(DeltaWrite.delete(spark, t, predicate)) {
        val gone = h.model.filter(o => pred(o).contains(true))
        Outcome(h.model.filterNot(o => pred(o).contains(true)).map(_ -> Kept),
          gone.map(_ -> "delete"), gone.map(_.uid).toSet, Some(gone.map(_.uid).toSet))
      }

    val ops: Seq[(String, () => Unit)] = Seq(
      "upsert duplicate source keys" -> { () =>
        val ks = existingKs(2) :+ (30L + rnd.nextInt(5))
        val in = ks.flatMap(k => Seq(fresh(Some(k), s"d$k"), fresh(Some(k), s"e$k")))
        upsert("duplicate keys", Seq("k"), in)
      },
      "upsert NULL keys" -> { () =>
        val in = Seq(fresh(None, "n1"), fresh(None, "n2"), fresh(Some(rnd.nextInt(10).toLong), "n3"))
        upsert("null keys", Seq("k"), in)
      },
      "upsert array keys" -> { () =>
        // existing tag sets come back in reversed order: set equality
        val old = rnd.shuffle(h.model.filter(_.tags.isDefined)).take(2)
        val in = old.map(o => fresh(someK(), "t").copy(tags = o.tags.map(_.reverse))) ++
          Seq(fresh(someK(), "t-new"), fresh(someK(), "t-null").copy(tags = None))
        upsert("array keys", Seq("tags"), in)
      },
      "upsert two keys" -> { () =>
        val old = rnd.shuffle(h.model).take(2)
        val in = old.map(o => fresh(o.k, "kp").copy(p = o.p)) :+ fresh(someK(), "kp-new")
        upsert("two keys", Seq("k", "p"), in)
      },
      "merge matched delete/update + insert" -> { () =>
        val src = mergeSource("m")
        h.run("merge matched delete/update + insert")(DeltaWrite.merge(spark, t, frame(src),
          "t.k = s.k",
          matched = Seq(Delete(Some("s.v = 'm0'")), Update(None, Map("v" -> "s.v", "p" -> "s.p"))),
          notMatched = Seq(Insert(None, allCols)))) {
          mergeModel(src,
            (o, s) => if (s.v == "m0") Del else Upd(o.copy(v = s.v, p = s.p)),
            s => Some(s), None)
        }
      },
      "merge all five clause kinds" -> { () =>
        val src = mergeSource("x").map(s => if (rnd.nextBoolean()) s.copy(v = "up" + s.v) else s)
        h.run("merge all five clause kinds")(DeltaWrite.merge(spark, t, frame(src),
          "t.k = s.k",
          matched = Seq(Update(Some("s.v LIKE 'up%'"), Map("v" -> "concat(t.v, '+', s.v)")),
            Delete(None)),
          notMatched = Seq(Insert(Some("s.k % 2 = 0"), allCols),
            Insert(None, Map("uid" -> "s.uid", "k" -> "s.k", "v" -> "'ins2'"))),
          notMatchedBySource = Seq(SourceDelete(Some("t.k % 4 = 0")),
            SourceUpdate(Some("t.v NOT LIKE '%~'"), Map("v" -> "concat(t.v, '~')"))))) {
          mergeModel(src,
            (o, s) => if (s.v.startsWith("up")) Upd(o.copy(v = s"${o.v}+${s.v}")) else Del,
            s => Some(if (s.k.exists(_ % 2 == 0)) s
              else R(s.uid, s.k, None, "ins2", None)),
            Some(o => if (o.k.exists(_ % 4 == 0)) Del
              else if (!o.v.endsWith("~")) Upd(o.copy(v = o.v + "~")) else Keep))
        }
      },
      "merge insert only" -> { () =>
        val src = mergeSource("i")
        h.run("merge insert only")(DeltaWrite.merge(spark, t, frame(src), "t.k = s.k",
          notMatched = Seq(Insert(None, allCols)))) {
          mergeModel(src, (_, _) => Keep, s => Some(s), None)
        }
      },
      "update" -> { () =>
        val m = 2 + rnd.nextInt(2)
        h.run(s"update k % $m = 0")(DeltaWrite.update(spark, t, s"k % $m = 0",
          Map("v" -> "concat(v, '!')"))) {
          val after = h.model.map { o =>
            if (o.k.exists(_ % m == 0)) o.copy(v = o.v + "!") -> Updated else o -> Kept
          }
          val hit = h.model.filter(_.k.exists(_ % m == 0))
          Outcome(after, hit.flatMap(o => Seq(o -> "update_preimage",
            o.copy(v = o.v + "!") -> "update_postimage")),
            hit.map(_.uid).toSet, Some(hit.map(_.uid).toSet))
        }
      },
      "replace on the partition column" -> { () =>
        val pv = if (rnd.nextBoolean()) "a" else "b"
        // incoming rows carry NULL partition values too; existing NULL
        // partitions never match the condition
        val in = Seq(fresh(someK(), "r1"), fresh(someK(), "r2").copy(p = None))
        replace(s"p = $pv", in, Seq(ReplaceCondition("p", pv)), _.p.contains(pv))
      },
      "replace on a data column" -> { () =>
        val k = rnd.nextInt(10).toLong
        val in = Seq(fresh(Some(k), "rk"))
        replace(s"k = $k", in, Seq(ReplaceCondition("k", k.toString)), _.k.contains(k))
      },
      "delete where a NULL predicate keeps the row" -> { () =>
        val k = 4 + rnd.nextInt(4)
        delete(s"k > $k", _.k.map(_ > k))
      },
      "delete by residue" -> { () =>
        val m = 3 + rnd.nextInt(2)
        delete(s"k % $m = 1", _.k.map(_ % m == 1))
      },
      "delete on the partition column" -> { () =>
        delete("p = 'b'", _.p.map(_ == "b"))
      })

    append("0")
    append("1")
    rnd.shuffle(ops).zipWithIndex.foreach { case ((_, op), i) =>
      op()
      if (i % 4 == 3) append(s"${i + 2}")
    }

    // schema evolution last: SET/INSERT name a column the table lacks
    val src = mergeSource("ev").map(_.copy(extra = Some("E")))
    h.run("merge with mergeSchema")(DeltaWrite.merge(spark, t, frame(src, withExtra = true),
      "t.k = s.k",
      matched = Seq(Update(None, Map("v" -> "s.v", "extra" -> "s.extra"))),
      notMatched = Seq(Insert(None, Map("uid" -> "s.uid", "k" -> "s.k", "v" -> "s.v",
        "extra" -> "s.extra"))),
      mergeSchema = true)) {
      mergeModel(src, (o, s) => Upd(o.copy(v = s.v, extra = s.extra)),
        s => Some(R(s.uid, s.k, None, s.v, None, s.extra)), None)
    }
    assert(DeltaLog.snapshot(spark, t).schema.fieldNames.contains("extra"))
  }

  kinds.foreach { kind =>
    test(s"${kind.name} table: seeded row-level ops match the model") { runKind(kind) }
  }
}

object RowRewriteSpec {
  final case class R(uid: Long, k: Option[Long], p: Option[String], v: String,
      tags: Option[List[Int]], extra: Option[String] = None)

  /** Where a post-op row's stable row id must come from. */
  sealed trait Origin
  case object Kept extends Origin
  case object Updated extends Origin
  final case class Inherit(fromUids: Seq[Long]) extends Origin
  case object Fresh extends Origin

  sealed trait Act
  case object Keep extends Act
  case object Del extends Act
  final case class Upd(to: R) extends Act

  /** The model's prediction for one op: the rows after it with their
    * origins, the change rows, the pre-op rows whose files must be
    * rewritten, and the pre-op rows whose files may be (None: any). */
  final case class Outcome(after: Seq[(R, Origin)], changes: Seq[(R, String)],
      mustRemove: Set[Long], mayRemove: Option[Set[Long]])

  final case class Kind(name: String, seed: Int, partitioned: Boolean,
      props: Map[String, String])

  private val cdfOn = Map("delta.enableChangeDataFeed" -> "true")
  private val tracking = Map("delta.enableRowTracking" -> "true")

  val kinds: Seq[Kind] = Seq(
    Kind("plain", 11, partitioned = false, Map.empty),
    Kind("partitioned", 12, partitioned = true, cdfOn ++ tracking),
    Kind("column-mapped", 13, partitioned = false,
      cdfOn ++ Map("delta.columnMapping.mode" -> "name")),
    Kind("row-tracking", 14, partitioned = false, tracking),
    Kind("cdf", 15, partitioned = false, cdfOn),
    Kind("deletion-vector", 16, partitioned = false,
      cdfOn ++ tracking ++ Map("delta.enableDeletionVectors" -> "true")))
}
