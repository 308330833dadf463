package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.schema._

/** Golden port of the reference's inference suite
  * (/root/reference/test/unit/lib/docMetadata.test.ts:14-161) plus
  * ScalaCheck laws for the distributed widening lattice. */
class InferSpec extends AnyFunSuite {

  /** Deterministic property driver (no scalatest-scalacheck bridge in the
    * offline cache): seeded pureApply over N samples. */
  private def forSamples[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(g.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def tree = Infer.analyzeDocuments("docs",
    Seq(Json.parse(Fixtures.doc1)))
  private def docs = tree.attributes("docs")

  test("root: seeded array, doc object inside (docMetadata.test.ts:30-38)") {
    assert(tree.dataType == DType.Arr)
    assert(docs.dataType == DType.Obj)
    assert(docs.upperSnake == "DOCS")
  }

  test("scalar types at the root (docMetadata.test.ts:44-61)") {
    val a = docs.attributes
    assert(a("_id").dataType == DType.Str) // uuid-ish: not numeric, not ISO
    assert(a("_rev").dataType == DType.Str)
    assert(a("aBoolean").dataType == DType.Bool)
    assert(a("aDate").dataType == DType.Date)
    assert(a("aNumber").dataType == DType.Num)
    assert(a("aString").dataType == DType.Str)
    assert(a("aString").maxLength == "Thirty One Point Six One Seven ...".length)
  }

  test("ai injection: lone object w/o id gets ai:int (docMetadata.test.ts:64-65)") {
    val o = docs.attributes("anObjectWithNoId")
    assert(o.dataType == DType.Obj)
    assert(o.attributes("ai").dataType == DType.Int)
    assert(!docs.attributes("anObjectWithAnId").attributes.contains("ai"))
  }

  test("array nodes: dataType=array, maxLength=count, same-name element (docMetadata.test.ts:79-95)") {
    val arr = docs.attributes("anArrayWithNoIds")
    assert(arr.dataType == DType.Arr)
    assert(arr.maxLength == 2)
    val elem = arr.attributes("anArrayWithNoIds")
    assert(elem.dataType == DType.Obj)
    assert(elem.attributes("ai").dataType == DType.Int)
    val withIds = docs.attributes("anArrayWithIds")
    assert(withIds.attributes("anArrayWithIds").attributes("id").dataType == DType.Str)
    assert(!withIds.attributes("anArrayWithIds").attributes.contains("ai"))
  }

  test("nested object-in-object and object-in-array-element") {
    val inner = docs.attributes("anObjectWithAnId")
      .attributes("anObjectWithinAnObject")
    assert(inner.dataType == DType.Obj)
    assert(inner.attributes("id").dataType == DType.Str)
    val inArr = docs.attributes("anArrayWithIds").attributes("anArrayWithIds")
      .attributes("anObjectWithinAnObjectInAnArray")
    assert(inArr.dataType == DType.Obj)
  }

  test("deriveDataType quirks: numeric strings, JS isNaN, ISO dates (docMetadata.ts:136-162)") {
    assert(Infer.deriveDataType(JStr("2.5")) == DType.Num)
    assert(Infer.deriveDataType(JStr("")) == DType.Num) // Number('') = 0
    assert(Infer.deriveDataType(JStr("  ")) == DType.Num)
    assert(Infer.deriveDataType(JStr("0x1A")) == DType.Num)
    assert(Infer.deriveDataType(JStr("1e5")) == DType.Num)
    assert(Infer.deriveDataType(JStr("2020")) == DType.Num) // number wins over date
    assert(Infer.deriveDataType(JStr("2020-06-23T12:00:00.000Z")) == DType.Date)
    assert(Infer.deriveDataType(JStr("2020-06-23")) == DType.Date)
    assert(Infer.deriveDataType(JStr("abc")) == DType.Str)
    assert(Infer.deriveDataType(JBool(true)) == DType.Bool)
    assert(Infer.deriveDataType(JNum("1.5")) == DType.Num)
    assert(Infer.deriveDataType(JNull) == DType.Unknown)
  }

  test("conflict widening to string; null leaves type unknown (docMetadata.ts:79-87)") {
    val a = Infer.analyzeDocuments("e", Seq(
      Json.parse("""{"_id":"1","x":1.5,"y":null,"z":true}"""),
      Json.parse("""{"_id":"2","x":"abc","y":2.5,"z":1.5}"""),
    )).attributes("e").attributes
    assert(a("x").dataType == DType.Str) // number then string → string
    assert(a("y").dataType == DType.Num) // null then number → number
    assert(a("z").dataType == DType.Str) // boolean then number → string
  }

  test("toUpperSnake matches change-case goldens") {
    assert(Infer.toUpperSnake("aBoolean") == "A_BOOLEAN")
    assert(Infer.toUpperSnake("anObjectWithNoId") == "AN_OBJECT_WITH_NO_ID")
    assert(Infer.toUpperSnake("testd2s") == "TESTD2S") // digits don't split
    assert(Infer.toUpperSnake("_id") == "ID")
    assert(Infer.toUpperSnake("_rev") == "REV")
    assert(Infer.toUpperSnake("ai") == "AI")
  }

  // ---- lattice laws (make distributed treeReduce order-insensitive) ----

  private val genType: Gen[DType] = Gen.oneOf(DType.all)

  test("type join: commutative, associative, idempotent") {
    forSamples(Gen.zip(genType, genType, genType)) { case (a, b, c) =>
      assert(Infer.joinType(a, b) == Infer.joinType(b, a))
      assert(Infer.joinType(Infer.joinType(a, b), c) ==
        Infer.joinType(a, Infer.joinType(b, c)))
      assert(Infer.joinType(a, a) == a)
    }
  }

  private val genScalar: Gen[JValue] = Gen.oneOf(
    Gen.const(JNull), Gen.oneOf(true, false).map(JBool(_)),
    Gen.chooseNum(-1e6, 1e6).map(d => JNum(d.toString)),
    Gen.alphaNumStr.map(JStr(_)),
    Gen.const(JStr("2021-01-02T03:04:05.000Z")))

  // Each key has a FIXED kind (scalar/object/array): the reference's
  // sequential analyze is order-dependent when a key flips between scalar
  // and container (docMetadata.ts:50-71 vs 73-83) — the canonical lattice
  // resolves container-vs-scalar to the container, so the equivalence law
  // holds on the shape-stable document families real CDC feeds look like.
  private def genObjAt(depth: Int): Gen[JObj] = for {
    s1 <- genScalar
    s2 <- genScalar
    hasId <- Gen.oneOf(true, false)
    kid <- if (depth > 0) Gen.option(genObjAt(depth - 1)) else Gen.const(None)
    arr <- if (depth > 0) Gen.option(Gen.choose(0, 2)
      .flatMap(n => Gen.listOfN(n, genObjAt(depth - 1))))
    else Gen.const(None)
  } yield JObj(
    Vector("sa" -> s1, "sb" -> s2) ++
      (if (hasId) Vector("id" -> (JStr("k"): JValue)) else Vector.empty) ++
      kid.map(k => "ob" -> (k: JValue)).toVector ++
      arr.map(a => "ar" -> (JArr(a.map(x => x: JValue).toVector): JValue)).toVector)

  private val genDoc: Gen[JObj] =
    genObjAt(2).map(o => JObj(o.fields :+ ("_id" -> (JStr("x"): JValue))))

  test("tree merge ≡ sequential analyze (partition order immaterial)") {
    forSamples(Gen.listOfN(6, genDoc)) { ds =>
      val sequential = Infer.analyzeDocuments("e", ds)
      // split into two 'partitions', analyze independently, merge
      val (l, r) = ds.splitAt(3)
      val merged = Infer.mergeInto(
        Infer.analyzeDocuments("e", l), Infer.analyzeDocuments("e", r))
      assert(Json.render(Infer.toJson(stripRootMax(merged))) ==
        Json.render(Infer.toJson(stripRootMax(sequential))))
    }
  }

  // root maxLength is the per-call doc count — not part of any table/column
  private def stripRootMax(a: Attr): Attr = { a.maxLength = 0; a }

  // the byte analyzer the engine runs, one document at a time
  private def viaBytes(texts: Seq[String]): Attr = {
    val a = new Infer.DocAnalyzer("e")
    texts.foreach(t => a.add(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    a.tree
  }

  test("streaming analyzer ≡ AST analyzer (same tree, byte-identical registry JSON)") {
    forSamples(Gen.listOfN(6, genDoc)) { ds =>
      val texts = ds.map(Json.render)
      val viaAst = Infer.analyzeDocuments("e", ds)
      val viaStream = viaBytes(texts)
      assert(Json.render(Infer.toJson(stripRootMax(viaStream))) ==
        Json.render(Infer.toJson(stripRootMax(viaAst))))
    }
    // edge shapes the generator does not emit: empty array / empty object /
    // ai field / null id / malformed doc skipped whole / multi-byte UTF-8
    // (2-byte accents, a 4-byte non-BMP emoji: maxLength counts UTF-16
    // units on both paths, JS `length`)
    val edge = Seq(
      """{"id":"a","e":[],"o":{},"ai":3,"xs":[1,"2",true,null]}""",
      """{"id":null,"v":{"ai":null}}""",
      """{"id":"b","broken":""", // malformed: skipped entirely
      """{"id":"c","n":"12.5","d":"2021-01-02"}""",
      "{\"id\":\"d\",\"s\":\"cr\u00e8me br\u00fbl\u00e9e \ud83d\ude00\"}")
    val good = edge.filterNot(_.endsWith("\"broken\":"))
    val viaAst = Infer.analyzeDocuments("e",
      good.flatMap(Json.parseOpt))
    val viaStream = viaBytes(edge)
    assert(Json.render(Infer.toJson(stripRootMax(viaStream))) ==
      Json.render(Infer.toJson(stripRootMax(viaAst))))
    // "crème brûlée 😀": 13 BMP chars + a surrogate pair = 15 UTF-16 units
    // (20 UTF-8 bytes, 14 code points)
    assert(viaStream.attributes("e").attributes("s").maxLength == 15)
  }

  test("merge idempotence: t ⊔ t = t") {
    forSamples(Gen.listOfN(4, genDoc)) { ds =>
      val t1 = Infer.analyzeDocuments("e", ds)
      val t2 = Infer.analyzeDocuments("e", ds)
      val m = Infer.mergeInto(t1, t2)
      val t = Infer.analyzeDocuments("e", ds)
      assert(Json.render(Infer.toJson(m)) == Json.render(Infer.toJson(t)))
    }
  }

  test("registry round-trips through JSON") {
    val t = tree
    val back = Infer.fromJson(Json.parse(Json.render(Infer.toJson(t))))
    assert(Json.render(Infer.toJson(back)) == Json.render(Infer.toJson(t)))
  }
}
