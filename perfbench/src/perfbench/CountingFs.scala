package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop filesystem with operation counters.
  *
  * Hadoop's own statistics for `file:` count bytes but report zero
  * read/write/list operations, so the store layer's file traffic is
  * counted here instead. Registered for the `file` scheme through
  * `spark.hadoop.fs.file.impl`; only paths under the Hadoop conf key
  * `perfbench.count.root` are counted, so table scans and Spark's own
  * scratch files stay out of the store figures. Counters are global
  * because Hadoop caches and shares filesystem instances.
  */
class CountingFs extends LocalFileSystem {
  private var root = "\u0000"

  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    root = Option(conf.get(CountingFs.RootKey)).getOrElse(root)
  }

  private def hit(p: Path, c: AtomicLong): Unit =
    if (p.toUri.getPath.startsWith(root)) c.incrementAndGet()

  private def counted(p: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!p.toUri.getPath.startsWith(root)) out
    else new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        CountingFs.bytesWritten.addAndGet(getPos)
        super.close()
      }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit(f, CountingFs.creates)
    counted(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    hit(f, CountingFs.creates)
    counted(f, super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    hit(src, CountingFs.renames); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit(f, CountingFs.deletes); super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    hit(f, CountingFs.mkdirs); super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit(f, CountingFs.mkdirs); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    hit(f, CountingFs.lists); super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit(f, CountingFs.lists); super.listLocatedStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    hit(f, CountingFs.lists); super.listStatusIterator(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(f, CountingFs.opens); super.open(f, bufferSize)
  }
}

object CountingFs {
  val RootKey = "perfbench.count.root"
  val creates, renames, deletes, mkdirs, lists, opens, bytesWritten = new AtomicLong

  /** Counter name → current value, in a fixed order. */
  def snapshot(): Seq[(String, Long)] = Seq(
    "creates" -> creates.get, "renames" -> renames.get,
    "deletes" -> deletes.get, "mkdirs" -> mkdirs.get,
    "lists" -> lists.get, "opens" -> opens.get,
    "bytes_written" -> bytesWritten.get)
}
