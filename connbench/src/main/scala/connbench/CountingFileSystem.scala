package connbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import java.util.concurrent.CompletableFuture

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileSystem, FilterFileSystem, FutureDataInputStreamBuilder, Path}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.spark.TaskContext

import graft.sharing.fs.SignedHttpFileSystem

/** Forwarding `graftshare` FileSystem for the traced run: every call goes
  * unchanged to a [[SignedHttpFileSystem]]; `open` and the reads of the
  * streams it returns are also counted, per op. */
final class CountingFileSystem extends FilterFileSystem(new SignedHttpFileSystem) {
  override def getScheme: String = "graftshare"

  private def counted(f: Path)(open: => FSDataInputStream): FSDataInputStream = {
    val c = FsCounters.forCurrentOp()
    val t0 = System.nanoTime()
    val in = open
    c.nanos.add(System.nanoTime() - t0)
    c.opens.increment()
    c.files.add(f.getName)
    new FSDataInputStream(new CountingInputStream(in, c))
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(f)(super.open(f, bufferSize))

  // parquet opens through the openFile builder; bind it to this FileSystem
  // so the open lands in openFileWithOptions below
  override def openFile(f: Path): FutureDataInputStreamBuilder =
    FileSystem.createDataInputStreamBuilder(this, f)

  override protected def openFileWithOptions(f: Path,
      parameters: OpenFileParameters): CompletableFuture[FSDataInputStream] =
    CompletableFuture.completedFuture(
      counted(f)(super.openFileWithOptions(f, parameters).get()))
}

/** Forwards every stream call to `in`, counting read calls, bytes and
  * time spent in them. */
final class CountingInputStream(in: FSDataInputStream, c: FsCounters.Counters)
    extends FSInputStream {

  private def counted(body: => Int): Int = {
    val t0 = System.nanoTime()
    val n = body
    c.nanos.add(System.nanoTime() - t0)
    c.reads.increment()
    if (n > 0) c.bytes.add(n)
    n
  }

  override def read(): Int = {
    val t0 = System.nanoTime()
    val b = in.read()
    c.nanos.add(System.nanoTime() - t0)
    c.reads.increment()
    if (b >= 0) c.bytes.increment()
    b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    counted(in.read(b, off, len))
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    counted(in.read(position, b, off, len))
  override def readFully(position: Long, b: Array[Byte], off: Int,
      len: Int): Unit =
    counted { in.readFully(position, b, off, len); len }

  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean =
    in.seekToNewSource(targetPos)
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Per-op counters of the [[CountingFileSystem]]. The op is the Spark
  * local property [[Trace.OpKey]] on task threads, or [[driverOp]] on the
  * thread that runs the op's driver-side code. */
object FsCounters {
  final class Counters {
    val opens, reads, bytes, nanos = new LongAdder
    val files: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  }

  private val byOp = new ConcurrentHashMap[String, Counters]()
  val driverOp = new ThreadLocal[String]

  def forCurrentOp(): Counters = {
    val op = Option(TaskContext.get()).flatMap(tc =>
      Option(tc.getLocalProperty(Trace.OpKey))).orElse(Option(driverOp.get))
    byOp.computeIfAbsent(op.getOrElse(""), _ => new Counters)
  }

  def of(op: String): Counters = byOp.getOrDefault(op, new Counters)
  def clear(): Unit = byOp.clear()
}
