package graftbench

import java.io.File

/** Keeps every file the program writes inside the benchmark's run dir.
  * `graft.Scratch.scratch` is a fixed absolute path in the program, shared
  * by every checkout; the benchmark points it at its own dir before any
  * program code reads it.
  */
object Isolation {

  def redirectScratch(dir: String): Unit = {
    val before = graft.Scratch.scratch // runs the object's initializer first
    val f = Class.forName("graft.Scratch$").getDeclaredField("scratch")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), dir)
    require(graft.Scratch.scratch == dir,
      s"could not redirect graft.Scratch.scratch (still $before)")
    new File(dir).mkdirs()
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteUnder(dir: File): Unit =
    Option(dir.listFiles).foreach(_.foreach(deleteTree))

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
