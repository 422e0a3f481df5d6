package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `ProfileScale` runs the declared queries by name, so a renamed or
  * dropped query must fail here rather than in the unrun tool. No
  * Spark. */
class ProfileScaleSpec extends AnyFunSuite {

  test("every ProfileScale entry names a declared query, once") {
    val declared = graft.SparkEntry.allQueries.map(_.name).toSet
    val unknown = ProfileScale.Declared.filterNot(declared.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.allQueries: $unknown")
    val dups = ProfileScale.Declared.diff(ProfileScale.Declared.distinct)
    assert(dups.isEmpty, s"listed twice: $dups")
  }
}
