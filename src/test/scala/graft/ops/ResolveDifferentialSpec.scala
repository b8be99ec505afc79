package graft.ops

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.TransferSchema._

/** [[Upsert]] and [[Parents]] against a driver-side model in plain Scala
  * collections, on seeded frames that carry every case the two windows must
  * get right: null-keyed rows with identical cells (all survive), re-shipped
  * keys (last arrival wins), one `file_name` shipped with two ids (the later
  * arrival is the parent map's value), level-1 rows with a null
  * `parent_folder`, and parents that name no row. Two arrival orders: the
  * (file, sheet, row) triple, and `_epoch` over a state/batch union as
  * `MergeSink` builds it. Outputs are compared as multisets on every column.
  */
class ResolveDifferentialSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("file_name", StringType),
    StructField("target_file_id", LongType),
    StructField("file_status", StringType),
    StructField("source_file_size", LongType),
    StructField(parentFolderCol, StringType),
    StructField(parentIdCol, StringType),
    StructField(srcFileCol, StringType),
    StructField(sheetCol, StringType),
    StructField(rowIdxCol, LongType)))
  private val withEpoch = StructType(schema.fields :+ StructField(epochCol, LongType))

  /** One generated row: the schema's cells in order (plus `_epoch` when the
    * frame has it).
    */
  private case class R(cells: Vector[Any]) {
    def name: String = cells(0).asInstanceOf[String]
    def id: Option[Long] = Option(cells(1)).map(_.asInstanceOf[Long])
    def parent: Option[String] = Option(cells(4)).map(_.asInstanceOf[String])
    /** The arrival order the operators use: epoch, then the (file, sheet,
      * row) triple.
      */
    def arrival: (Long, String, String, Long) = (
      if (cells.size > 9) cells(9).asInstanceOf[Long] else 0L,
      cells(6).asInstanceOf[String], cells(7).asInstanceOf[String],
      cells(8).asInstanceOf[Long])
  }

  private implicit val arrivalOrd: Ordering[R] = Ordering.by((r: R) => r.arrival)

  /** Seeded workbook-shaped rows from `files`, row indices 1.. per file. */
  private def generate(rnd: Random, files: Seq[String], rowsPerFile: Int): Vector[R] = {
    val names = (0 until 30).map(i => s"J/n$i")
    files.toVector.flatMap { f =>
      val rows = (1 to rowsPerFile).toVector.map { i =>
        val n = rnd.nextInt(names.size)
        val name = names(n)
        // ~15% null-keyed; otherwise one of two ids per name, so names are
        // re-shipped under the same key and also shipped with a second id
        val id: Any = if (rnd.nextDouble() < 0.15) null else 1000L + n * 10 + rnd.nextInt(2)
        val parent: Any = rnd.nextInt(10) match {
          case 0 | 1 => null // level-1 row
          case 2 => s"missing/$n" // names no row
          case _ => names(rnd.nextInt(names.size))
        }
        R(Vector(name, id, s"s${rnd.nextInt(4)}", rnd.nextInt(3).toLong * 100, parent, null,
          f, "Transfer Report", i.toLong))
      }
      // three null-keyed rows identical in every cell but their row index
      val twins = (1 to 3).toVector.map { k =>
        R(Vector("J/twin", null, "s0", 0L, "J/n1", null, f, "Transfer Report",
          (rowsPerFile + k).toLong))
      }
      rows ++ twins
    }
  }

  private def frame(rows: Seq[R], st: StructType): DataFrame =
    spark.createDataFrame(sc.parallelize(rows.map(r => Row.fromSeq(r.cells)), 3), st)

  /** SQLite `INSERT OR REPLACE`: the last arrival per non-null key, every
    * null-keyed row kept.
    */
  private def modelUpsert(rows: Seq[R]): Seq[R] = {
    val (keyed, nullKeyed) = rows.partition(_.id.isDefined)
    keyed.groupBy(r => (r.name, r.id)).values.map(_.max).toSeq ++ nullKeyed
  }

  /** The reference's map build and probe: `file_name → target_file_id` of
    * the last arrival among rows with an id; `parent_id` last.
    */
  private def modelParents(rows: Seq[R]): Seq[Vector[Any]] = {
    val map = rows.filter(_.id.isDefined).groupBy(_.name).map { case (n, rs) => n -> rs.max.id.get }
    rows.map { r =>
      val pid: Any = r.parent.flatMap(map.get).map(_.toString).orNull
      r.cells.patch(5, Nil, 1) :+ pid
    }
  }

  private def multiset(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  private def check(rows: Vector[R], st: StructType): Unit = {
    val in = frame(rows, st)
    val up = Upsert(in)
    assert(up.columns.toSeq === st.fieldNames.toSeq)
    assert(multiset(rowsOf(up)) === multiset(modelUpsert(rows).map(_.cells)))
    // Parents alone sees re-shipped keys and both ids of a name
    val pa = Parents(in)
    assert(pa.columns.toSeq === st.fieldNames.filterNot(_ == parentIdCol).toSeq :+ parentIdCol)
    assert(multiset(rowsOf(pa)) === multiset(modelParents(rows)))
    // the pipeline's composition
    assert(multiset(rowsOf(Parents(up))) === multiset(modelParents(modelUpsert(rows))))
  }

  private def coverage(rows: Vector[R]): Unit = {
    val ups = modelUpsert(rows)
    assert(ups.count(_.name == "J/twin") === rows.count(_.name == "J/twin"))
    assert(rows.groupBy(r => (r.name, r.id)).exists { case ((_, id), rs) => id.isDefined && rs.size > 1 })
    assert(ups.filter(_.id.isDefined).groupBy(_.name).exists(_._2.map(_.id).distinct.size > 1))
    assert(rows.exists(_.parent.isEmpty))
    val pids = modelParents(ups).map(_.last)
    assert(pids.contains(null) && pids.exists(_ != null))
  }

  test("differential: upsert + parents over inputs ordered by the (file, sheet, row) triple") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val rnd = new Random(seed)
      // generated against the file order, so the triple (not the input
      // order) decides
      val rows = generate(rnd, Seq("C.xlsx", "B.xlsx", "A.xlsx"), 60)
      coverage(rows)
      check(rows, schema)
    }
  }

  test("differential: upsert + parents over a state/batch union ordered by _epoch") {
    Seq(21L, 22L, 23L).foreach { seed =>
      val rnd = new Random(seed)
      // both sides ship the same files and row indices, so _epoch decides
      // across them and the triple within each side
      val state = generate(rnd, Seq("B.xlsx", "A.xlsx"), 60).map(r => R(r.cells :+ 1L))
      val batch = generate(rnd, Seq("A.xlsx", "B.xlsx"), 40).map(r => R(r.cells :+ 2L))
      val rows = state ++ batch
      coverage(rows)
      val union = frame(state, withEpoch).unionByName(frame(batch, withEpoch))
      assert(union.columns.toSeq === withEpoch.fieldNames.toSeq)
      val up = Upsert(union)
      assert(multiset(rowsOf(up)) === multiset(modelUpsert(rows).map(_.cells)))
      assert(multiset(rowsOf(Parents(up))) === multiset(modelParents(modelUpsert(rows))))
      // and the same rows as one frame with the epoch column
      check(rows, withEpoch)
    }
  }

  test("parents: a null parent_folder resolves to null even when a null name carries an id") {
    val rows = Seq(
      Row(null, 7L, "s", 0L, null, null, "A.xlsx", "Transfer Report", 1L),
      Row("x", 8L, "s", 0L, null, null, "A.xlsx", "Transfer Report", 2L))
    val out = Parents(spark.createDataFrame(sc.parallelize(rows), schema))
      .select(parentIdCol).collect().map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(None, None))
  }
}
