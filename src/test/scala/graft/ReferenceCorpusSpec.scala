package graft

import java.nio.file.Files
import org.scalatest.exceptions.TestCanceledException
import org.scalatest.funsuite.AnyFunSuite

class ReferenceCorpusSpec extends AnyFunSuite {
  test("assumeFiles cancels on an absent or non-regular file and passes on present files") {
    val dir = Files.createTempDirectory("graft_reference_corpus")
    val a = Files.write(dir.resolve("a.nt"), Array[Byte](1)).toString
    val b = Files.write(dir.resolve("b.nt"), Array[Byte](2)).toString
    val absent = dir.resolve("absent.nt").toString
    ReferenceCorpus.assumeFiles(a, b)
    val e = intercept[TestCanceledException](ReferenceCorpus.assumeFiles(a, absent, b))
    assert(e.getMessage.contains(absent))
    intercept[TestCanceledException](ReferenceCorpus.assumeFiles(dir.toString))
  }
}
