package graft.flatten

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{ColumnSpec, TableSpec}
import graft.schema.{Attr, DType}

/** Turns a batch of JSON documents into one relational DataFrame per
  * [[TableSpec]] — the Spark-native replacement for the reference's
  * per-document nested-address enumeration + per-row MERGE
  * (/root/reference/src/lib/sqlDML.ts:425-546).
  *
  * The reference walks dot-addresses (`a.0.b`, `a.1.b`) string-by-string,
  * one SQL round-trip per row. Here each array ancestor becomes one
  * `posexplode` (Catalyst `Generate`), the position IS the injected array
  * index (docMetadata.ts:27-37), and leaf access is `GetStructField` —
  * whole-stage-codegen friendly, no address strings, no driver loops.
  */
object Flattener {

  /** Spark read schema for `from_json`, derived from the inferred tree.
    * Numbers and dates are read as strings (lexical fidelity / lenient
    * parse); booleans as booleans; `ai` ints as ints. */
  def readSchema(objNode: Attr): StructType =
    StructType(objNode.attributes.values.flatMap(readField).toSeq)

  private def readField(a: Attr): Option[StructField] = a.dataType match {
    case DType.Obj => Some(StructField(a.name, readSchema(a), nullable = true))
    case DType.Arr =>
      a.attributes.get(a.name).flatMap { elem =>
        elem.dataType match {
          case DType.Obj => Some(StructField(a.name,
            ArrayType(readSchema(elem), containsNull = true), nullable = true))
          case DType.Arr =>
            readField(elem).map(f => StructField(a.name,
              ArrayType(f.dataType, containsNull = true), nullable = true))
          case DType.Unknown => None
          case s => Some(StructField(a.name,
            ArrayType(scalarReadType(s), containsNull = true), nullable = true))
        }
      }
    case DType.Unknown => None // never seen non-null → no column anywhere
    case s => Some(StructField(a.name, scalarReadType(s), nullable = true))
  }

  private def scalarReadType(d: DType): DataType = d match {
    case DType.Int  => IntegerType
    case DType.Bool => BooleanType
    case _          => StringType // number/date/string: lexical text
  }

  private def hasField(node: Attr, name: String): Boolean = {
    val a = node.attributes.get(name)
    a.exists(x => x.dataType != DType.Unknown)
  }

  /** The AI value for a node instance: an explicit `ai` field wins, else
    * the array position, else 0 (docMetadata.ts:27-37, 52-58). */
  private def aiExpr(node: Attr, nodeCol: Column, pos: Option[Column]): Column = {
    val injected = pos.getOrElse(lit(0)).cast(IntegerType)
    if (hasField(node, "ai"))
      coalesce(nodeCol.getField("ai").try_cast(IntegerType), injected)
    else injected
  }

  /** Row primary-key expression. ID tables fall back to the injected AI
    * when a row's id is null (sqlDML.ts:246-256). */
  private def pkExpr(t: TableSpec, node: Attr, nodeCol: Column,
      pos: Option[Column]): Column =
    if (t.tablePk == "ID") {
      val ids = Seq("id", "_id").filter(hasField(node, _))
        .map(f => nodeCol.getField(f).cast(StringType))
      val all = ids :+ aiExpr(node, nodeCol, pos).cast(StringType)
      coalesce(all: _*)
    } else aiExpr(node, nodeCol, pos)

  /** Scalar coercion per the reference's bind rules (sqlDML.ts:257-296):
    * int → numeric cast; number → lexical text unchanged; date → lenient
    * timestamp parse; boolean → 0/1; string → text with empty→null.
    * Lenient directions use `try_cast` (null on invalid — the same result
    * a legacy-mode cast gives) so the semantics hold on ANSI sessions too:
    * the engine does not flip session conf (ADVICE r4). */
  private def coerce(c: ColumnSpec, raw: Column): Column = c.dType match {
    case DType.Int  => raw.try_cast(IntegerType)
    case DType.Num  => raw.cast(StringType)
    case DType.Date => raw.try_cast(TimestampType) // lenient; invalid → null
    case DType.Bool => raw.try_cast(IntegerType)   // true→1 / false→0
    case _          => when(length(raw.cast(StringType)) === 0, lit(null))
      .otherwise(raw.cast(StringType))             // ''→null (JS falsy bind)
  }

  /** The root table's primary-key value of each parsed document: the
    * root's ID column, and the value every child table carries as its
    * outermost FK (cast to that FK's type). Rows without a document
    * (`docCol` null) still get a value; callers filter them. */
  def rootKey(rootElem: Attr, tables: Seq[TableSpec], docCol: Column): Column = {
    val root = tables.find(_.isRoot).getOrElse(
      throw new IllegalStateException("catalog has no root table"))
    pkExpr(root, rootElem, docCol, None)
      .cast(if (root.tablePk == "AI") IntegerType else StringType)
  }

  /** Build the DataFrame for one table from a batch that has a parsed
    * struct column `docCol` (already `from_json`'d with [[readSchema]]).
    *
    * @param extraCols passthrough columns from the batch (e.g. `lsn`,
    *                  `_bucket`) appended verbatim to every row.
    */
  def tableFrame(
      batch: DataFrame,
      rootElem: Attr,
      tables: Seq[TableSpec],
      t: TableSpec,
      docCol: Column,
      extraCols: Seq[String] = Nil,
      withOrd: Boolean = false,
  ): DataFrame = {
    val byName = tables.map(x => x.attrName -> x).toMap

    // walk root → table node, exploding arrays, recording each ancestor
    // table's PK expression along the way (FK carry-down, sqlDML.ts:308-403)
    var df = batch
    var node = rootElem
    var nodeCol: Column = docCol
    var pos: Option[Column] = None
    var depth = 0
    // (attrName, pkValueExpr) outermost-first; the root table is first
    var ancestorPks = Vector.empty[(String, Column)]
    val rootTable = tables.find(_.isRoot).getOrElse(
      throw new IllegalStateException("catalog has no root table"))

    def recordAncestor(tbl: TableSpec, n: Attr, col: Column,
        p: Option[Column]): Unit =
      ancestorPks :+= (tbl.attrName -> pkExpr(tbl, n, col, p))

    if (t.attrName != rootTable.attrName)
      recordAncestor(rootTable, node, nodeCol, None)

    t.path.zipWithIndex.foreach { case (step, i) =>
      val isLast = i == t.path.size - 1
      if (step.isArray) {
        val arrCol = nodeCol.getField(step.attrName)
        df = df.select(col("*"),
          posexplode(arrCol).as(Seq(s"_pos$depth", s"_n$depth")))
        nodeCol = col(s"_n$depth")
        pos = Some(col(s"_pos$depth"))
        node = {
          val arr = node.attributes(step.attrName)
          arr.attributes(arr.name)
        }
        depth += 1
      } else {
        nodeCol = nodeCol.getField(step.attrName)
        pos = None
        node = node.attributes(step.attrName)
      }
      if (!isLast)
        byName.get(step.attrName).foreach(tbl =>
          recordAncestor(tbl, node, nodeCol, pos))
    }

    // FK columns are nearest-ancestor-first (sqlMetadata.ts:97-136); match
    // each FK to its ancestor by walking the parentName chain in the same
    // order findFkColumns did, then emit outermost-first (schema order)
    val pkByAncestor = ancestorPks.toMap
    val chainNames = Iterator
      .iterate(t.parentName)(n => byName.get(n).map(_.parentName).getOrElse(""))
      .takeWhile(_.nonEmpty).take(99).toVector
    val fkPairs = t.fkColumns.zip(chainNames).flatMap { case (fk, ancName) =>
      pkByAncestor.get(ancName).map { pkVal =>
        val typed =
          if (fk.dType == DType.Int) pkVal.cast(IntegerType)
          else pkVal.cast(StringType)
        typed.as(fk.sqlName)
      }
    }.reverse

    val pkCol = pkExpr(t, node, nodeCol, pos)
      .cast(if (t.tablePk == "AI") IntegerType else StringType)
      .as(t.tablePk)

    val dataCols = t.columns
      .filterNot(c => c.sqlName == t.tablePk ||
        t.fkColumns.exists(_.sqlName == c.sqlName))
      .map { c =>
        val leaf = c.leafName
        val raw =
          if (c.sqlName == "AI") aiExpr(node, nodeCol, pos)
          else if (hasField(node, leaf)) nodeCol.getField(leaf)
          else lit(null)
        coerce(c, raw).as(c.sqlName)
      }

    // duplicate keys inside one document (e.g. two array elements sharing
    // an id): the reference's serial MERGE makes the LAST address win
    // (sqlDML.ts:519-545) — expose the explode-position vector so the
    // caller can keep the lexicographically-last occurrence
    val ordCols =
      if (!withOrd) Nil
      else {
        val poses = (0 until depth).map(d => col(s"_pos$d"))
        Seq((if (poses.isEmpty) lit(0) else struct(poses: _*)).as("_gord"))
      }

    val outCols = (fkPairs :+ pkCol) ++ dataCols ++ extraCols.map(col) ++ ordCols
    // a row exists only where the object instance exists (sqlDML.ts:528-531)
    df.filter(nodeCol.isNotNull).select(outCols: _*)
  }
}
