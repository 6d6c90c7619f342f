package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[ScratchDirs]]: directories land under `java.io.tmpdir`, stay
  * while the JVM runs, and are gone, contents included, once it
  * exits. The exit half runs in a child JVM. */
class ScratchDirsSpec extends AnyFunSuite {

  test("a scratch dir is new, empty and under java.io.tmpdir") {
    val a = new File(ScratchDirs.create("graft_spec_"))
    val b = new File(ScratchDirs.create("graft_spec_"))
    assert(a != b)
    Seq(a, b).foreach { d =>
      assert(d.isDirectory && d.list().isEmpty)
      assert(d.getName.startsWith("graft_spec_"))
      assert(d.getParentFile.getCanonicalFile ==
        new File(System.getProperty("java.io.tmpdir")).getCanonicalFile)
    }
  }

  test("scratch dirs and their contents are deleted when the JVM exits") {
    val tmp = Files.createTempDirectory("graft_scratch_spec_").toFile
    try {
      val java = s"${System.getProperty("java.home")}/bin/java"
      val p = new ProcessBuilder(java, "-Xmx64m", s"-Djava.io.tmpdir=$tmp",
        "-cp", System.getProperty("java.class.path"),
        "graft.ScratchDirsChild").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      assert(p.waitFor() == 0, out)
      val made = out.split("\n").toSeq
      assert(made.length == 2, out)
      made.foreach { d =>
        assert(new File(d).getParentFile.getCanonicalFile == tmp.getCanonicalFile)
      }
      assert(tmp.list().isEmpty, s"left behind: ${tmp.list().mkString(", ")}")
    } finally {
      Option(tmp.listFiles()).foreach(_.foreach(_.delete()))
      tmp.delete()
    }
  }
}

/** Child JVM for [[ScratchDirsSpec]]: makes two scratch dirs, one with
  * nested contents, prints their paths and exits. */
object ScratchDirsChild {
  def main(args: Array[String]): Unit = {
    val a = ScratchDirs.create("graft_child_")
    val b = ScratchDirs.create("graft_child_")
    val nested = new File(a, "v1/part")
    nested.mkdirs()
    Files.write(new File(nested, "data.bin").toPath, Array[Byte](1, 2, 3))
    println(a)
    println(b)
  }
}
