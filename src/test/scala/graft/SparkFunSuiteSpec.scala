package graft

import java.nio.file.{Files, Paths}

/** The shared test helpers clean up after themselves. */
class SparkFunSuiteSpec extends SparkFunSuite {

  test("withTempDir deletes its directory tree when the body throws") {
    var made: String = null
    val e = intercept[IllegalStateException] {
      withTempDir("graft_tmpdir_spec") { dir =>
        made = dir
        Files.createDirectories(Paths.get(dir, "nested"))
        Files.writeString(Paths.get(dir, "nested", "f.txt"), "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(made != null && !Files.exists(Paths.get(made)), s"$made survived")
  }
}
