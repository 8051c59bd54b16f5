package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The batch replay's GroupState follows Spark's GroupStateImpl. */
class ReplayStateSpec extends AnyFunSuite {

  test("update(null) throws IllegalArgumentException and keeps the state") {
    val st = new BatchReplay.ReplayState[String]
    st.update("a")
    intercept[IllegalArgumentException](st.update(null))
    assert(st.exists && st.get == "a")
    st.remove()
    assert(!st.exists && st.getOption.isEmpty)
  }
}
