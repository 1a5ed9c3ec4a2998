package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** A renewer or a would-be stealer that reads a lease while the file is
  * being rewritten (a rewrite truncates, then writes) sees an empty, torn
  * stamp. That is neither a lost lease nor an expired one: the reader
  * looks again after a pause. A torn stamp that persists still counts as
  * a corpse. The tear is injected by the filesystem, so no test here
  * depends on a race.
  */
class LeaseTornReadSpec extends AnyFunSuite {

  /** The local filesystem, except that the next `tears` opens of any file
    * read an empty file instead. `restamped` opens once a file is created
    * after a tear was served and none is left.
    */
  private final class TearingFs(empty: Path)
      extends FilterFileSystem(FileSystem.getLocal(new Configuration())) {
    val tears = new AtomicInteger(0)
    private val served = new AtomicInteger(0)
    val restamped = new CountDownLatch(1)
    override def open(f: Path, bufferSize: Int): FSDataInputStream =
      if (tears.getAndUpdate(n => math.max(0, n - 1)) > 0) {
        served.incrementAndGet()
        super.open(empty, bufferSize)
      } else super.open(f, bufferSize)
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      if (served.get > 0 && tears.get == 0) restamped.countDown()
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
  }

  private def withFs(body: (TearingFs, Path) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-lease-torn").toString
    val empty = new Path(dir, "empty")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "empty"))
    try body(new TearingFs(empty), new Path(dir, ".maintlease"))
    finally MultiAnalyzer.deleteRecursively(new java.io.File(dir))
  }

  test("a torn read after a failed renew is re-read, and the lease re-stamped") {
    withFs { (fs, p) =>
      var t = 1000L
      val now = () => t
      assert(Lease.acquire(fs, p, "me", 500L, now))
      t = 1200L
      fs.tears.set(1)
      assert(!Lease.renewLost(fs, p, "me", 500L, now),
        "a rewrite in flight was reported as a lost lease")
      assert(Lease.read(fs, p) === Some(("me", 1700L)))
    }
  }

  test("a torn stamp that persists is a lost lease") {
    withFs { (fs, p) =>
      val now = () => 1000L
      assert(Lease.acquire(fs, p, "me", 500L, now))
      fs.tears.set(2)
      assert(Lease.renewLost(fs, p, "me", 500L, now))
    }
  }

  test("acquire reads another owner's live lease mid-rewrite as live, not as a corpse") {
    withFs { (fs, p) =>
      val now = () => 1000L
      assert(Lease.acquire(fs, p, "other", 500L, now))
      fs.tears.set(1)
      assert(!Lease.acquire(fs, p, "me", 500L, now),
        "a live lease read mid-rewrite was stolen")
      assert(Lease.read(fs, p) === Some(("other", 1500L)))
    }
  }

  test("withLease rides out a renew that reads its lease mid-rewrite") {
    withFs { (fs, p) =>
      val r = Lease.withLease(fs, p, "me", ttlMs = 300L, pollMs = 20L) {
        // the renew's read and the renewer's re-read both tear; the
        // re-read after the pause sees the stamp and re-stamps it
        fs.tears.set(2)
        assert(fs.restamped.await(10, TimeUnit.SECONDS), "the lease was never re-stamped")
        42
      }
      assert(r === 42)
    }
  }
}
