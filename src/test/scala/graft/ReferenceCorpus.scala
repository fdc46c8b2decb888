package graft

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions

/** Guard for the suites that port the reference's own tests over its
  * fixture corpora (LubmSpec, PullBondSpec, RdfSpec, SparqlSpec and
  * PlanSpec's LUBM test). Those corpora live in a reference checkout, not
  * in this repository, so a fixture calls [[assumeFiles]] with exactly the
  * files it reads before reading them: where a file is absent the test is
  * canceled with the missing path in its message, and where every file is
  * present the test runs unchanged. */
object ReferenceCorpus {
  /** The reference checkout; `LubmQueries.path` and `SparqlQueries.path`
    * name files under it too. */
  val root = "/root/reference"

  def assumeFiles(paths: String*): Unit =
    paths.foreach { p =>
      val present = Files.isRegularFile(Paths.get(p))
      Assertions.assume(present, s"reference corpus file absent: $p")
    }
}
