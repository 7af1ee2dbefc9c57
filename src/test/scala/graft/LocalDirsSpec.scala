package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Stale `pid-<n>` spill dirs: a dead JVM's dir and a dir whose pid the OS
  * recycled are purged; a live JVM's dir is kept. */
class LocalDirsSpec extends AnyFunSuite {

  private def pidDir(root: File, pid: Long, marker: Option[String]): File = {
    val d = new File(root, s"pid-$pid")
    d.mkdirs()
    new File(d, "blockmgr-1").mkdirs()
    marker.foreach(m => Files.writeString(new File(d, ".start").toPath, m))
    d
  }

  test("purgeStale drops dead and recycled pid dirs, keeps the live one") {
    val self = ProcessHandle.current()
    val started = self.info().startInstant()
    assume(started.isPresent, "the OS reports no process start instants")
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val deadPid = dead.pid()

    def fresh(): File = Files.createTempDirectory("graft-local").toFile

    val r1 = fresh()
    val gone = pidDir(r1, deadPid, Some(started.get.toString))
    val other = new File(r1, "not-a-pid-dir")
    other.mkdirs()
    LocalDirs.purgeStale(r1)
    assert(!gone.exists(), "a dead pid's dir survived")
    assert(other.exists(), "a non-pid dir was purged")

    val r2 = fresh()
    val recycled = pidDir(r2, self.pid(), Some(started.get.minusSeconds(3600).toString))
    LocalDirs.purgeStale(r2)
    assert(!recycled.exists(), "a recycled pid's dir survived")

    val r3 = fresh()
    val live = pidDir(r3, self.pid(), Some(started.get.toString))
    LocalDirs.purgeStale(r3)
    assert(live.exists() && new File(live, "blockmgr-1").exists(), "the live dir was purged")
  }
}
