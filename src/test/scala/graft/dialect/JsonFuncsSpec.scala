package graft.dialect

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The JSON functions share parsed trees through a per-thread memo
  * (`JsonFuncs.parse`); no function may change a tree it was handed. */
class JsonFuncsSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  test("every JSON function leaves the memoized tree equal to a fresh parse") {
    // a to_json(named_struct(...)) carrier: a scalar, nested JSON text
    // (embedded by the 'J' modes), a null and a container
    val text = """{"a":1,"b":"{\"x\":[1,2]}","c":null,"d":[1,{"e":"f"}]}"""
    val doc = u(text)
    val fresh = new ObjectMapper().readTree(text)
    val tree = JsonFuncs.parse(doc)
    val calls = Seq[() => Any](
      () => JsonFuncs.jsonSize(doc, u("$.d")),
      () => JsonFuncs.isJsonScalar(doc),
      () => JsonFuncs.jsonValue(doc, u("$.a")),
      () => JsonFuncs.jsonValueMode(doc, u("$.d"), u("NN"), null, null),
      () => JsonFuncs.jsonQuery(doc, u("$.d")),
      () => JsonFuncs.jsonQueryMode(doc, u("$.d[1]"), u("UK")),
      () => JsonFuncs.jsonQueryMode(doc, u("$.a"), u("CK")),
      () => JsonFuncs.jsonObjFinish(doc, u("N"), u("VJVV")),
      () => JsonFuncs.jsonObjFinish(doc, u("A"), u("VJVV")),
      () => JsonFuncs.jsonArrFinish(doc, u("N"), u("VJVV")),
      () => JsonFuncs.jsonObjDynFinish(doc, u("""["k","l","m","n"]"""), u("N"), u("VJVV"), u("U")),
      () => JsonFuncs.jsonItems(doc, u("$.d[*]")),
      () => JsonFuncs.jsonExists(doc, u("$.d[1].e")),
      () => JsonFuncs.jsonExistsMode(doc, u("$.z"), u("F")))
    for (round <- 1 to 2; (call, i) <- calls.zipWithIndex) {
      call()
      assert(JsonFuncs.parse(doc) eq tree, s"call $i, round $round: the memo was bypassed")
      assert(tree == fresh, s"call $i, round $round changed the shared tree")
    }
    // the embedded document is memoized and shared the same way
    val inner = JsonFuncs.parse(u("""{"x":[1,2]}"""))
    JsonFuncs.jsonObjFinish(doc, u("N"), u("VJVV"))
    assert(inner == new ObjectMapper().readTree("""{"x":[1,2]}"""))
  }
}
