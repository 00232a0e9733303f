package perfbench

import graft.catalog.CatalogSnapshot
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** A seeded, mutable model of a source database's catalog. It renders
  * itself as a [[CatalogSnapshot]] and, independently of the engine,
  * knows the answers the engine must give about it: status counts, the
  * columns a what-if drop removes, the PII columns of each table and the
  * master table that must rank first among MDE candidates.
  *
  * Shape: `tables` base tables spread over `schemas` schemas plus about
  * one view per ten tables; every view selects from one or two base
  * tables or from an earlier view, so dropping a table cascades through
  * up to three levels of views. Foreign keys point at `masters` master
  * tables with Zipf-skewed popularity; master `core.m0` is planted with
  * the most inbound keys and the fewest rows, so it scores 1.0.
  *
  * Column names come from disjoint pools: PII names match the engine's
  * PII pattern, metadata names are the metadata concept's, and filler
  * names (`attr_*`, `note_*`, `qty_*`) match no concept, so each planted
  * count is known exactly by construction.
  */
final class CatalogGen(seed: Long, tables: Int = 900, schemas: Int = 10,
    masters: Int = 8) {
  import CatalogGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  final case class Col(name: String, dataType: String, notNull: Boolean,
      default: String, pii: Boolean, metadata: Boolean, pk: Boolean,
      fkTo: Option[(String, String)])
  final case class Rel(schema: String, name: String, kind: String,
      rows: Long, cols: Vector[Col])

  /** (schema, name) -> relation, in insertion order. */
  val rels = mutable.LinkedHashMap[(String, String), Rel]()
  /** view -> the relations it selects from. */
  val deps = mutable.LinkedHashMap[(String, String), Seq[(String, String)]]()
  private var nextId = 0

  private val schemaNames = (0 until schemas).map(i => f"s$i%02d")
  /** Schemas whose tables no catalog change touches. */
  private def fixed(schema: String) = schema == "core" || schema == "imp"
  private val masterKeys = (0 until masters).map(i => ("core", s"m$i"))
  /** Zipf weights over masters: m0 is the most referenced. */
  private val masterCdf = {
    val w = (1 to masters).map(k => 1.0 / math.pow(k, 1.3))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private def drawMaster(): (String, String) = {
    val u = rnd.nextDouble()
    masterKeys(masterCdf.indexWhere(_ >= u) max 0)
  }

  private def filler(i: Int): Col = rnd.nextInt(3) match {
    case 0 => Col(s"attr_$i", s"character varying(${16 + rnd.nextInt(200)})",
      rnd.nextBoolean(), null, false, false, false, None)
    case 1 => Col(s"note_$i", "text", false, null, false, false, false, None)
    case _ => Col(s"qty_$i", "integer", rnd.nextInt(4) == 0, null, false,
      false, false, None)
  }

  private def newTable(schema: String, name: String, rows: Long,
      fks: Int): Rel = {
    val id = Col("id", "bigint", true, s"nextval('${schema}.${name}_id_seq')",
      false, false, true, None)
    val fkCols = (0 until fks).map(_ => drawMaster()).distinct.map { m =>
      Col(s"${m._2}_id", "bigint", true, null, false, false, false, Some(m))
    }
    val nPii = rnd.nextInt(4)
    val pii = PiiPool.indices.map(_ => pick(PiiPool)).distinct.take(nPii)
      .map(n => Col(n, "text", false, null, true, false, false, None))
    val meta = if (rnd.nextInt(3) == 0) Vector(
      Col("created_at", "timestamp", true, "now()", false, true, false, None),
      Col("updated_at", "timestamp", false, null, false, true, false, None))
      else Vector.empty
    val nFill = 6 + rnd.nextInt(18)
    val fill = (0 until nFill).map(filler)
    Rel(schema, name, "r", rows,
      (Vector(id) ++ fkCols ++ pii ++ meta ++ fill))
  }

  private def addTable(): Rel = {
    val schema = pick(schemaNames)
    val t = newTable(schema, s"t$nextId", 100L + rnd.nextInt(1000000),
      rnd.nextInt(4))
    nextId += 1
    rels((t.schema, t.name)) = t
    t
  }

  private def addView(): Unit = {
    val bases = rels.values.filter(r => !fixed(r.schema)).toVector
    val from = (0 until 1 + rnd.nextInt(2)).map(_ => pick(bases)).distinct
    val cols = from.flatMap(_.cols.filterNot(_.pk)).map(_.name).distinct
      .take(4 + rnd.nextInt(10)).map { n =>
        val c = from.flatMap(_.cols).find(_.name == n).get
        c.copy(notNull = false, default = null, pk = false, fkTo = None)
      }.toVector
    val v = Rel(from.head.schema, s"v$nextId", "v", 0L, cols)
    nextId += 1
    rels((v.schema, v.name)) = v
    deps((v.schema, v.name)) = from.map(r => (r.schema, r.name))
  }

  // ---- initial catalog ----------------------------------------------------
  masterKeys.zipWithIndex.foreach { case ((s, n), i) =>
    // m0 holds the fewest rows of every table in the catalog
    rels((s, n)) = newTable(s, n, if (i == 0) 10L else 20L + rnd.nextInt(80),
      0)
  }
  (0 until tables).foreach { i =>
    addTable()
    if (i % 10 == 9) addView()
  }
  // the import workload's target: rulesFromSmo derives not-null and
  // length rules from these SMO rows
  rels(ImportTarget) = Rel(ImportTarget._1, ImportTarget._2, "r", 50000L, Vector(
    Col("id", "bigint", true, "nextval('imp.customer_id_seq')", false, false, true, None),
    Col("name", "character varying(40)", true, null, false, false, false, None),
    Col("email", "character varying(60)", false, null, true, false, false, None),
    Col("code", "character(8)", true, null, false, false, false, None),
    Col("city", "character varying(30)", false, null, true, false, false, None),
    Col("qty", "integer", false, null, false, false, false, None),
    Col("price", "numeric(10,2)", false, null, false, false, false, None),
    Col("note", "text", false, null, false, false, false, None),
    Col("tags", "text", false, null, false, false, false, None),
    Col("created_at", "timestamp", true, "now()", false, true, false, None)))
  plantMaster()

  /** Make m0 strictly the most referenced master. */
  private def plantMaster(): Unit = {
    def inbound = rels.values.flatMap(_.cols.flatMap(_.fkTo))
      .groupBy(identity).map { case (k, v) => (k, v.size) }
    val others = masterKeys.tail.map(inbound.getOrElse(_, 0)).max
    var need = others + 1 - inbound.getOrElse(masterKeys.head, 0)
    val it = rels.values.filter(r => r.kind == "r" && !fixed(r.schema) &&
      !r.cols.exists(_.fkTo.contains(masterKeys.head))).toVector.iterator
    while (need > 0 && it.hasNext) {
      val r = it.next()
      val fk = Col("m0_id", "bigint", true, null, false, false, false,
        Some(masterKeys.head))
      rels((r.schema, r.name)) = r.copy(cols = r.cols :+ fk)
      need -= 1
    }
  }

  // ---- mutation -------------------------------------------------------------

  /** The generated catalog change a refresh follows: a leaf table (no
    * dependent view, not a master) is dropped and a new table is
    * created, so the catalog keeps its size over a run. */
  def change(): Unit = {
    val dependedOn = deps.values.flatten.toSet
    val leaves = rels.values.filter(r => r.kind == "r" && !fixed(r.schema) &&
      !dependedOn.contains((r.schema, r.name))).toVector
    val gone = pick(leaves)
    rels.remove((gone.schema, gone.name))
    addTable()
    plantMaster()
  }

  /** A base table with at least one dependent view — the what-if target. */
  def whatIfTarget(): (String, String) =
    pick(deps.values.flatten.toVector.distinct
      .filter(k => rels.get(k).exists(_.kind == "r") && !fixed(k._1)))

  /** A base table with at least one PII column — the columns lookup. */
  def piiTable(): Rel =
    pick(rels.values.filter(r => r.kind == "r" && r.cols.exists(_.pii)).toVector)

  // ---- the answers ------------------------------------------------------------

  def status: Map[String, Long] = {
    val cols = rels.values.toSeq.flatMap(_.cols)
    Map(
      "schema_count" -> rels.values.map(_.schema).toSet.size.toLong,
      "table_count" -> rels.size.toLong,
      "column_count" -> cols.size.toLong,
      "pii_count" -> cols.count(_.pii).toLong,
      "metadata_count" -> cols.count(_.metadata).toLong,
      "primary_key_count" -> cols.count(_.pk).toLong,
      "foreign_key_count" -> cols.count(_.fkTo.nonEmpty).toLong)
  }

  /** Column count after `DROP TABLE target CASCADE`: the table's columns
    * and those of every view that depends on it, transitively, go. */
  def columnCountAfterDrop(target: (String, String)): Long = {
    val byRef = deps.toSeq.flatMap { case (v, from) => from.map(_ -> v) }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2)) }
    val dropped = mutable.Set(target)
    val q = mutable.Queue(target)
    while (q.nonEmpty) byRef.getOrElse(q.dequeue(), Nil).foreach { v =>
      if (dropped.add(v)) q.enqueue(v)
    }
    status("column_count") - dropped.toSeq.map(rels(_).cols.size).sum
  }

  def topMaster: (String, String) = masterKeys.head

  // ---- rendering --------------------------------------------------------------

  def rows: CatalogGen.Rows = {
    val rel = rels.values.toSeq.map(r =>
      Row(r.schema, r.name, r.kind, null, r.rows))
    val att = rels.values.toSeq.flatMap(r => r.cols.zipWithIndex.map {
      case (c, i) => Row(r.schema, r.name, c.name, i + 1, c.dataType,
        c.notNull, c.default, null, false, null)
    })
    val con = rels.values.toSeq.filter(_.kind == "r").flatMap { r =>
      r.cols.zipWithIndex.flatMap { case (c, i) =>
        val key = Seq(i + 1)
        if (c.pk) Seq(Row(r.schema, r.name, s"${r.name}_pkey", "p",
          "PRIMARY KEY (id)", key, null, s"${r.schema}.${r.name}_id_seq",
          null, null))
        else c.fkTo.toSeq.map { case (ms, mt) =>
          Row(r.schema, r.name, s"${r.name}_${c.name}_fkey", "f",
            s"FOREIGN KEY (${c.name}) REFERENCES $ms.$mt(id)", key, Seq(1),
            null, ms, mt)
        }
      }
    }
    val idx = rels.values.toSeq.filter(_.kind == "r").flatMap { r =>
      r.cols.zipWithIndex.collect { case (c, i) if c.fkTo.nonEmpty =>
        Row(r.schema, r.name, s"${r.name}_${c.name}_idx", false, false,
          false, true, true, s"btree (${c.name})", Seq(i + 1))
      }
    }
    val privs = rels.values.map(_.schema).toSeq.distinct.sorted.map(Row(_, true))
    val dep = deps.toSeq.flatMap { case ((vs, vn), from) =>
      from.map { case (s, t) => Row(vs, vn, s, t) }
    }
    CatalogGen.Rows(rel, att, con, idx, privs, dep)
  }

  def snapshot(spark: SparkSession): CatalogSnapshot = {
    val r = rows
    CatalogSnapshot.fromRows(spark, r.relations, r.attributes, r.constraints,
      r.indexes, r.schemaPrivs, r.dependencies)
  }
}

object CatalogGen {
  /** The table the import workload loads into. */
  val ImportTarget: (String, String) = ("imp", "customer")

  final case class Rows(relations: Seq[Row], attributes: Seq[Row],
      constraints: Seq[Row], indexes: Seq[Row], schemaPrivs: Seq[Row],
      dependencies: Seq[Row]) {
    def all: Seq[Row] = relations ++ attributes ++ constraints ++ indexes ++
      schemaPrivs ++ dependencies
  }

  /** Alternatives of the PII concept's anchored pattern that match none
    * of the external-reference patterns. */
  val PiiPool: IndexedSeq[String] = Vector("email", "first_name",
    "last_name", "phone", "mobile", "address", "street", "city", "zip",
    "postal", "ssn", "birthdate", "passport", "iban", "login", "password",
    "username", "card_number")
}
