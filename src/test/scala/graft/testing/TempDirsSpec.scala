package graft.testing

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {
  test("a temp dir is new and empty, and its whole tree deletes") {
    val dir = TempDirs("graft-tempdirs")
    assert(Files.isDirectory(dir) && dir.toFile.list().isEmpty)
    assert(dir.getFileName.toString.startsWith("graft-tempdirs"))
    Files.write(Files.createDirectories(dir.resolve("a/b")).resolve("f.txt"), Array[Byte](1))
    TempDirs.delete(dir)
    assert(!Files.exists(dir))
    TempDirs.delete(dir) // already gone: no error
  }
}
