package graft.destinations

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class LocalIoSpec extends AnyFunSuite {

  test("deleteTree removes a non-empty nested tree; a root that is gone is skipped") {
    // the delete the temp-directory exit hook runs on every registered directory
    val root = Files.createTempDirectory("localio-tree")
    val deep = Files.createDirectories(root.resolve("t/year=2024/region=eu/_delta_log"))
    Files.writeString(deep.resolve("00000.json"), "{}")
    Files.writeString(root.resolve("t/.part-0.parquet.crc"), "c")
    Files.writeString(root.resolve("t/part-0.parquet"), "p")
    Files.createDirectories(root.resolve("empty/nested"))
    LocalIo.deleteTree(root)
    assert(!Files.exists(root))
    LocalIo.deleteTree(root)
    LocalIo.deleteTree(root.resolve("never/existed"))
  }
}
