package graft.schema

import scala.collection.mutable

/** Inferred document-attribute type.
  *
  * Mirrors the reference's `dataType` strings
  * (/root/reference/src/lib/docMetadata.ts:136-162 plus the injected
  * `ai → int` at docMetadata.ts:74):
  * `'' | boolean | number | date | string | int | array | object`.
  */
sealed abstract class DType(val tag: String) extends Serializable
object DType {
  case object Unknown extends DType("")
  case object Bool    extends DType("boolean")
  case object Num     extends DType("number")
  case object Date    extends DType("date")
  case object Str     extends DType("string")
  case object Int     extends DType("int")
  case object Arr     extends DType("array")
  case object Obj     extends DType("object")

  val all: Seq[DType] = Seq(Unknown, Bool, Num, Date, Str, Int, Arr, Obj)
  def fromTag(t: String): DType =
    all.find(_.tag == t).getOrElse(throw new IllegalArgumentException(t))

  def isScalar(t: DType): Boolean = t match {
    case Arr | Obj | Unknown => false
    case _                   => true
  }
}

/** One node of the inferred attribute tree — the reference's
  * `{dataType, maxLength, name, upperSnake, attributes}` record
  * (/root/reference/src/lib/docMetadata.ts:164-179). Parent links are not
  * stored; the catalog derivation carries the ancestor path instead.
  *
  * Mutable accumulator: `observe` folds one value in (one doc at a time,
  * matching the reference's sequential `analyze`); `merge` joins two
  * independently-built trees (the distributed path — commutative,
  * associative, idempotent, see [[Infer.mergeInto]]).
  */
final class Attr(
    val name: String,
    var dataType: DType = DType.Unknown,
    var maxLength: Long = 0L,
) extends Serializable {
  // LAZY (r8): the streaming analyzer builds a scratch Attr tree per
  // document, and an eager upperSnake ran four regex replaceAlls per
  // node per document — ~20× the cost of the Jackson parse itself
  // (measured 27 µs/doc vs 1.4 µs raw). Only the catalog derivation
  // reads upperSnake, on the driver, on the final merged tree.
  lazy val upperSnake: String = Infer.toUpperSnake(name)
  /** Insertion-ordered children — order drives table order downstream,
    * like the reference's JS-object key order. */
  val attributes: mutable.LinkedHashMap[String, Attr] = mutable.LinkedHashMap.empty

  def child(childName: String): Attr =
    attributes.getOrElseUpdate(childName, new Attr(childName))

  def deepCopy(): Attr = {
    val c = new Attr(name, dataType, maxLength)
    attributes.foreach { case (k, v) => c.attributes.put(k, v.deepCopy()) }
    c
  }

  override def toString: String =
    s"Attr($name,${dataType.tag},$maxLength,[${attributes.keys.mkString(",")}])"
}

/** doctosql's recursive schema inference, re-expressed as a pure fold over a
  * JSON AST (no document mutation — the reference's AI *injection*,
  * docMetadata.ts:27-37/52-58, becomes an `ai:int` attribute in the tree;
  * the AI *value* is supplied at flatten time by `posexplode` position /
  * `lit(0)`).
  *
  * Semantics matched to /root/reference/src/lib/docMetadata.ts:
  *  - scalar-type conflicts widen to string (docMetadata.ts:79-83)
  *  - numeric strings infer as number — JS `!isNaN(x)` semantics
  *    (docMetadata.ts:146-150), including `""`/whitespace/hex/Infinity
  *  - strict-ISO-8601 strings infer as date (docMetadata.ts:152-153)
  *  - maxLength = running max of string length / array length
  *    (docMetadata.ts:39-43,84-87)
  *  - empty arrays and empty objects take the object branch (JS
  *    `[] instanceof Object`) and gain an injected `ai`
  *  - an attribute seen as both array and object stays array
  *    (docMetadata.ts:59-62)
  */
object Infer {

  /** camelCase → UPPER_SNAKE, matching `changeCase.snake(..).toUpperCase()`
    * (docMetadata.ts:131-134). Digits do not split ("testd2s" → "TESTD2S",
    * matching /root/reference/test/unit/lib/sqlMetadata.test.ts table
    * names); case transitions do ("aBoolean" → "A_BOOLEAN",
    * "anHTTPServer" → "AN_HTTP_SERVER"). */
  private val snake1 = java.util.regex.Pattern.compile("([a-z0-9])([A-Z])")
  private val snake2 = java.util.regex.Pattern.compile("([A-Z]+)([A-Z][a-z])")
  private val snake3 = java.util.regex.Pattern.compile("[^A-Za-z0-9]+")
  private val snake4 = java.util.regex.Pattern.compile("^_+|_+$")

  def toUpperSnake(name: String): String =
    snake4.matcher(
      snake3.matcher(
        snake2.matcher(
          snake1.matcher(name).replaceAll("$1_$2"))
          .replaceAll("$1_$2"))
        .replaceAll("_"))
      .replaceAll("")
      .toUpperCase

  // PRECOMPILED patterns (r8): `String.matches` recompiles its Pattern on
  // EVERY call, and jsNumeric runs once per string value of every
  // analyzed document — the three per-call compiles made the inference
  // fold ~13× slower than a full from_json parse of the same batch
  // (measured: 4.1 s vs 0.3 s on 10^6 events at local[32]). Branch
  // results are unchanged — the three alternatives are mutually
  // exclusive, so testing the common decimal form first is safe.
  private val jsDecimalRe =
    java.util.regex.Pattern.compile("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?")
  private val jsInfinityRe =
    java.util.regex.Pattern.compile("[+-]?(Infinity)")
  private val jsRadixRe =
    java.util.regex.Pattern.compile("0[xX][0-9a-fA-F]+|0[oO][0-7]+|0[bB][01]+")

  /** JS `!isNaN(str)` — would `Number(str)` produce a non-NaN?
    * Number("") = 0, Number("  ") = 0, hex/octal/binary literals parse,
    * "Infinity" parses. (docMetadata.ts:150 applies this to strings.) */
  def jsNumeric(s: String): Boolean = {
    val t = s.trim
    t.isEmpty ||
      jsDecimalRe.matcher(t).matches() ||
      jsInfinityRe.matcher(t).matches() ||
      jsRadixRe.matcher(t).matches()
  }

  /** Anchored Java-regex form of strict-ISO detection — public so the
    * relational fast path can replicate [[isIso8601]] with SQL `rlike`
    * (same Java regex engine on both paths). */
  val isoPattern: String =
    "^\\d{4}-\\d{2}(-\\d{2}([T ]\\d{2}(:\\d{2}(:\\d{2}([.,]\\d{1,9})?)?)?" +
      "(Z|[+-]\\d{2}(:?\\d{2})?)?)?)?$"

  private val isoRegex = isoPattern.r

  /** Anchored Java-regex equivalent of [[jsNumeric]] for SQL `rlike`:
    * the optional group makes empty / whitespace-only match (JS
    * `Number("") == 0`); `\s*` approximates `String.trim` (exact for
    * every printable input). */
  val jsNumericAnchored: String =
    "^\\s*([+-]?Infinity|0[xX][0-9a-fA-F]+|0[oO][0-7]+|0[bB][01]+|" +
      "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?)?\\s*$"

  /** Strict ISO-8601 detection (moment(value, ISO_8601, true).isValid(),
    * docMetadata.ts:152-153). Purely-numeric strings never reach this
    * branch (the number check runs first). */
  def isIso8601(s: String): Boolean = isoRegex.matches(s)

  /** deriveDataType (docMetadata.ts:136-162), branch order preserved:
    * boolean → number (incl. numeric string) → date → string. */
  def deriveDataType(v: JValue): DType = v match {
    case JNull      => DType.Unknown
    case JBool(_)   => DType.Bool
    case JNum(_)    => DType.Num
    case JStr(s) =>
      if (jsNumeric(s)) DType.Num
      else if (isIso8601(s)) DType.Date
      else DType.Str
    case _ => DType.Unknown // containers never reach the scalar branch
  }

  private def hasOwnKey(o: JObj): Boolean =
    o.fields.exists { case (k, v) =>
      (k == "id" || k == "_id" || k == "ai") && v != JNull
    }

  /** The reference's `analyze` (docMetadata.ts:16-93): fold one value into
    * the attribute node. */
  def observe(attr: Attr, value: JValue): Unit = value match {
    case JArr(items) if items.nonEmpty =>
      attr.dataType = DType.Arr // unconditional, docMetadata.ts:38
      if (items.size > attr.maxLength) attr.maxLength = items.size
      // analyzeArray: each element folds into the same-named child node
      val elem = attr.child(attr.name)
      items.foreach(observe(elem, _))

    case o: JObj =>
      // JS: {} and [] both land here ([] instanceof Object)
      if (attr.dataType != DType.Arr) attr.dataType = DType.Obj
      // AI injection (docMetadata.ts:52-58): object without id/_id/ai
      // gains an int-typed `ai` attribute (value supplied at flatten)
      if (!hasOwnKey(o)) {
        val ai = attr.child("ai")
        if (ai.dataType == DType.Unknown) ai.dataType = DType.Int
      }
      o.fields.foreach { case (k, v) => observe(attr.child(k), v) }

    case JArr(_) => // empty array: JS object branch, with injected ai
      if (attr.dataType != DType.Arr) attr.dataType = DType.Obj
      val ai = attr.child("ai")
      if (ai.dataType == DType.Unknown) ai.dataType = DType.Int

    case scalar =>
      val dt = if (attr.name == "ai") DType.Int else deriveDataType(scalar)
      if (dt != DType.Unknown) {
        if (attr.dataType == DType.Unknown) attr.dataType = dt
        else if (attr.dataType != dt) attr.dataType = DType.Str // widen
      }
      scalar match {
        case JStr(s) if s.length > attr.maxLength => attr.maxLength = s.length
        case _                                     =>
      }
  }

  /** analyzeDocuments (docMetadata.ts:115-128): the root attribute is
    * seeded array-typed; each document folds into `root.attributes[entity]`. */
  def analyzeDocuments(entity: String, docs: IterableOnce[JValue]): Attr = {
    val root = new Attr(entity, DType.Arr)
    val it = docs.iterator
    var n = 0L
    val elem = root.child(entity)
    while (it.hasNext) { observe(elem, it.next()); n += 1 }
    if (n > root.maxLength) root.maxLength = n
    root
  }

  // ---- streaming analyzer (no AST) ----

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** Streaming equivalent of `analyzeDocuments` over raw UTF-8 BYTES,
    * one document at a time, so a pass that does other work per row (the
    * engine's parse-and-cluster pass) analyzes the rows as they stream
    * through. Jackson tokens drive the attribute tree directly — no JValue
    * AST is ever built. The AST path allocates ~50 objects per document
    * (builders, vectors, field tuples, value wrappers); at 10^6-doc
    * micro-batches that allocation traffic is the dominant GC/bandwidth
    * load of the inference and hits the many-core level hardest. Jackson
    * parses UTF-8 natively, so handing it the bytes also skips the
    * UTF8String → java.lang.String decode (a UTF-16 expansion + copy of
    * every document). String lengths still count UTF-16 units, as the AST
    * path does (JS `length`). Each document observes into a scratch tree
    * that merges in only on success, so a malformed document is skipped
    * whole (exactly like the parse-then-analyze path). */
  final class DocAnalyzer(entity: String) {
    private val root = new Attr(entity, DType.Arr)
    private val elem = root.child(entity)
    private var n = 0L

    /** Documents folded in so far (malformed ones are not counted). */
    def docs: Long = n

    /** Fold in one document; a malformed one leaves the tree untouched. */
    def add(doc: Array[Byte]): Unit = {
      val scratch = new Attr(entity)
      val ok =
        try {
          val p = jsonFactory.createParser(doc)
          try { p.nextToken(); observeParsed(scratch, p); true }
          finally p.close()
        } catch { case _: Exception => false }
      if (ok) { mergeInto(elem, scratch); n += 1 }
    }

    /** The tree so far: the root's maxLength is the document count. */
    def tree: Attr = {
      if (n > root.maxLength) root.maxLength = n
      root
    }
  }

  /** Token-driven mirror of [[observe]] (parser positioned ON the value).
    * The AI injection uses insert-then-maybe-remove so the injected `ai`
    * lands at the same attribute position as the reference's
    * check-before-fields order (docMetadata.ts:52-58). */
  private def observeParsed(attr: Attr,
      p: com.fasterxml.jackson.core.JsonParser): Unit = {
    import com.fasterxml.jackson.core.JsonToken._
    p.currentToken() match {
      case START_ARRAY =>
        if (p.nextToken() == END_ARRAY) {
          // empty array: JS object branch, with injected ai
          if (attr.dataType != DType.Arr) attr.dataType = DType.Obj
          val ai = attr.child("ai")
          if (ai.dataType == DType.Unknown) ai.dataType = DType.Int
        } else {
          attr.dataType = DType.Arr // unconditional, docMetadata.ts:38
          val elem = attr.child(attr.name)
          var count = 0L
          while (p.currentToken() != END_ARRAY) {
            observeParsed(elem, p)
            count += 1
            p.nextToken()
          }
          if (count > attr.maxLength) attr.maxLength = count
        }

      case START_OBJECT =>
        if (attr.dataType != DType.Arr) attr.dataType = DType.Obj
        // the reference checks id/_id/ai on the WHOLE object and injects
        // `ai` BEFORE iterating fields (docMetadata.ts:52-58); streaming
        // can't know yet, so remember the pre-existing children and, if
        // injection turns out needed, splice `ai` in at that position
        // (before this doc's new children) — reproducing the insertion
        // order exactly
        val preKeys = attr.attributes.keySet.toSet
        var sawOwnKey = false
        while (p.nextToken() != END_OBJECT) {
          val name = p.currentName()
          val vTok = p.nextToken()
          if ((name == "id" || name == "_id" || name == "ai") &&
            vTok != VALUE_NULL) sawOwnKey = true
          observeParsed(attr.child(name), p)
        }
        if (!sawOwnKey) {
          val ai = attr.child("ai")
          if (ai.dataType == DType.Unknown) ai.dataType = DType.Int
          if (!preKeys.contains("ai")) {
            // splice: pre-existing children, then ai, then new children
            val entries = attr.attributes.toVector.filter(_._1 != "ai")
            val (pre, post) = entries.partition(e => preKeys.contains(e._1))
            attr.attributes.clear()
            pre.foreach { case (k, v) => attr.attributes.put(k, v) }
            attr.attributes.put("ai", ai)
            post.foreach { case (k, v) => attr.attributes.put(k, v) }
          }
        }

      case VALUE_STRING =>
        val s = p.getText
        val dt =
          if (attr.name == "ai") DType.Int
          else if (jsNumeric(s)) DType.Num
          else if (isIso8601(s)) DType.Date
          else DType.Str
        if (attr.dataType == DType.Unknown) attr.dataType = dt
        else if (attr.dataType != dt) attr.dataType = DType.Str
        if (s.length > attr.maxLength) attr.maxLength = s.length

      case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT =>
        val dt = if (attr.name == "ai") DType.Int else DType.Num
        if (attr.dataType == DType.Unknown) attr.dataType = dt
        else if (attr.dataType != dt) attr.dataType = DType.Str

      case VALUE_TRUE | VALUE_FALSE =>
        val dt = if (attr.name == "ai") DType.Int else DType.Bool
        if (attr.dataType == DType.Unknown) attr.dataType = dt
        else if (attr.dataType != dt) attr.dataType = DType.Str

      case VALUE_NULL =>
        // null observes nothing (deriveDataType → Unknown) EXCEPT for an
        // `ai` attribute, which the reference types int before deriving
        if (attr.name == "ai") {
          if (attr.dataType == DType.Unknown) attr.dataType = DType.Int
          else if (attr.dataType != DType.Int) attr.dataType = DType.Str
        }

      case t => throw new IllegalArgumentException(s"unexpected JSON token $t")
    }
  }

  /** Join two independently-built trees — the widening lattice that makes
    * inference distributable (mapPartitions-fold then treeReduce).
    * Commutative/associative/idempotent; `a` is mutated and returned.
    *
    * Type join: equal → itself; Unknown is identity; array ⊔ object =
    * array (docMetadata.ts:59-62); container ⊔ scalar = container (the
    * reference is order-dependent here — we canonicalize to the container,
    * which preserves children; only pathological mixed docs hit this);
    * scalar ⊔ different-scalar = string (docMetadata.ts:79-83). */
  def mergeInto(a: Attr, b: Attr): Attr = {
    a.dataType = joinType(a.dataType, b.dataType)
    if (b.maxLength > a.maxLength) a.maxLength = b.maxLength
    b.attributes.foreach { case (k, bc) =>
      a.attributes.get(k) match {
        case Some(ac) => mergeInto(ac, bc)
        case None     => a.attributes.put(k, bc.deepCopy())
      }
    }
    a
  }

  def joinType(x: DType, y: DType): DType =
    (x, y) match {
      case (a, b) if a == b          => a
      case (DType.Unknown, b)        => b
      case (a, DType.Unknown)        => a
      case (DType.Arr, _)            => DType.Arr
      case (_, DType.Arr)            => DType.Arr
      case (DType.Obj, _)            => DType.Obj
      case (_, DType.Obj)            => DType.Obj
      case _                         => DType.Str // scalar conflict widens
    }

  // ---- registry persistence (attr tree ⇄ JSON) ----

  def toJson(a: Attr): JValue =
    JObj(Vector(
      "n" -> JStr(a.name),
      "t" -> JStr(a.dataType.tag),
      "m" -> JNum(a.maxLength.toString),
      "a" -> JObj(a.attributes.values.map(c => c.name -> toJson(c)).toVector),
    ))

  def fromJson(v: JValue): Attr = v match {
    case o: JObj =>
      val name = o.get("n") match { case Some(JStr(s)) => s; case _ => "" }
      val t = o.get("t") match {
        case Some(JStr(s)) => DType.fromTag(s); case _ => DType.Unknown
      }
      val m = o.get("m") match {
        case Some(JNum(l)) => l.toDouble.toLong; case _ => 0L
      }
      val a = new Attr(name, t, m)
      o.get("a") match {
        case Some(JObj(fs)) =>
          fs.foreach { case (k, cv) => a.attributes.put(k, fromJson(cv)) }
        case _ =>
      }
      a
    case _ => throw new IllegalArgumentException("bad registry json")
  }
}

/** Lattice-merged attribute tree as a Spark accumulator: each task adds
  * the tree of the documents it analyzed and the driver joins them with
  * [[Infer.mergeInto]]. The join is idempotent, so a retried or
  * speculated task adds nothing the first attempt did not. */
final class TreeAccumulator(entity: String)
    extends org.apache.spark.util.AccumulatorV2[Attr, Attr] {
  private var acc: Attr = null
  override def isZero: Boolean = acc == null
  override def copy(): TreeAccumulator = {
    val c = new TreeAccumulator(entity)
    if (acc != null) c.acc = acc.deepCopy()
    c
  }
  override def reset(): Unit = acc = null
  override def add(t: Attr): Unit =
    acc = if (acc == null) t.deepCopy() else Infer.mergeInto(acc, t)
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[Attr, Attr]): Unit =
    other match {
      case o: TreeAccumulator => if (o.acc != null) add(o.acc)
      case o => throw new UnsupportedOperationException(
        s"cannot merge ${o.getClass.getName} into a TreeAccumulator")
    }
  /** The joined tree; the lattice bottom (no document seen) when empty. */
  override def value: Attr =
    if (acc == null) Infer.analyzeDocuments(entity, Nil) else acc
}
