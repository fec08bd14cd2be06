package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val key = "graft.bpe.noMemo"

  test("withBpeNoMemo sets noMemo for l_bpe_train only and restores the prior value") {
    val outer = sys.props.get(key)
    try {
      // a value set outside Bench survives the helper on every path
      sys.props(key) = "external"
      assert(Bench.withBpeNoMemo("l_bpe_train")(sys.props.get(key)) === Some("1"))
      assert(sys.props.get(key) === Some("external"))
      intercept[RuntimeException](
        Bench.withBpeNoMemo("l_bpe_train")(throw new RuntimeException("boom")))
      assert(sys.props.get(key) === Some("external"))
      assert(Bench.withBpeNoMemo("l_bpe_encode")(sys.props.get(key)) === Some("external"))
      assert(sys.props.get(key) === Some("external"))
      // unset before ⇒ unset after
      sys.props.remove(key)
      assert(Bench.withBpeNoMemo("l_bpe_train")(sys.props.get(key)) === Some("1"))
      assert(sys.props.get(key) === None)
    } finally outer match {
      case Some(v) => sys.props(key) = v
      case None    => sys.props.remove(key)
    }
  }
}
