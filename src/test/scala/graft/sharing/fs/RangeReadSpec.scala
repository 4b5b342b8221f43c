package graft.sharing.fs

import java.nio.ByteBuffer
import java.nio.file.Files

import org.apache.hadoop.fs.{FileRange, FileSystem}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.sharing.{DeltaSharingClient, Profile, TableRef}
import graft.sharing.server.LocalSharingServer
import graft.sharing.server.LocalSharingServer.DataFault

/** The signed-URL data plane: every range GET returns exactly the bytes it
  * asked for or fails with a typed error, through the server's injected
  * faults (5xx, ignored `Range`, truncated body) and a stub that resets
  * connections or lies in `Content-Range`; `readVectored` equals
  * per-range reads; and warm requests do not pay the 40 ms delayed-ACK
  * stall. */
class RangeReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  // seeded pseudo-random content, so a read at the wrong offset shows
  private val content = {
    val r = new scala.util.Random(7)
    Array.fill[Byte](1 << 20)(r.nextInt(256).toByte)
  }
  private val dir = Files.createTempDirectory("graft-range")
  private val file = Files.write(dir.resolve("blob.bin"), content)

  private val server = new LocalSharingServer()
  private var client: DeltaSharingClient = _
  private var url: String = _
  private val table = TableRef("sh", "sc", "blob")

  override def beforeAll(): Unit = {
    server.addTable("sh", "sc", server.TableDef(
      "blob", """{"type":"struct","fields":[]}""", Seq.empty,
      files = Seq(server.ServedFile(file, Map.empty))))
    server.start()
    client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
    url = client.getTableData(table)._3.head.url
  }
  override def afterAll(): Unit = server.stop()

  private def stream(u: String = url,
      stats: Option[FileSystem.Statistics] = None) =
    new SignedHttpInputStream(u, content.length, 1 << 20, None, stats)

  private def readAt(s: SignedHttpInputStream, pos: Long, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    assert(s.read(pos, b, 0, n) == n)
    b
  }

  private def expected(pos: Long, n: Int): Seq[Byte] =
    content.slice(pos.toInt, pos.toInt + n).toSeq

  private def withFault[T](fault: DataFault, times: Int)(body: => T): T = {
    server.dataFault = fault
    server.failNextDataRequests = times
    try body finally server.failNextDataRequests = 0
  }

  test("a 200 that ignores Range is cut down to the requested bytes") {
    withFault(DataFault.IgnoreRange, 2) {
      assert(readAt(stream(), 123457, 2048).toSeq == expected(123457, 2048))
      // the sequential path too
      val s = stream()
      s.seek(777)
      val b = new Array[Byte](100)
      assert(s.read(b, 0, 100) == 100 && b.toSeq == expected(777, 100))
    }
  }

  test("5xx and truncated bodies are retried and then read exactly") {
    for (fault <- Seq(DataFault.ServerError, DataFault.Truncated)) {
      val stats = new FileSystem.Statistics("graftshare")
      withFault(fault, 2) {
        assert(readAt(stream(stats = Some(stats)), 5000, 4096).toSeq ==
          expected(5000, 4096), fault)
      }
      assert(stats.getReadOps == 3, fault) // two faults, one good answer
      assert(stats.getBytesRead == 4096, fault)
    }
  }

  test("faults that outlast the retries fail typed, never with short bytes") {
    for (fault <- Seq(DataFault.ServerError, DataFault.Truncated)) {
      val e = withFault(fault, 10) {
        intercept[RangeReadException](readAt(stream(), 0, 1024))
      }
      assert(e.getMessage.contains("after 4 attempts"), e.getMessage)
    }
    // the server is healthy again
    assert(readAt(stream(), 0, 16).toSeq == expected(0, 16))
  }

  /** A one-connection-at-a-time HTTP stub: the i-th connection gets
    * `answer(i)` written raw (None: closed without a response). */
  private def withStub[T](answer: Int => Option[String])(body: String => T): T = {
    val ss = new java.net.ServerSocket(0, 50,
      java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      var i = 0
      try while (true) {
        val sock = ss.accept()
        try {
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(sock.getInputStream, "ISO-8859-1"))
          var line = in.readLine()
          while (line != null && line.nonEmpty) line = in.readLine()
          answer(i).foreach { a =>
            sock.getOutputStream.write(a.getBytes("ISO-8859-1"))
            sock.getOutputStream.flush()
          }
        } finally sock.close()
        i += 1
      } catch { case _: java.io.IOException => () } // socket closed
    })
    t.setDaemon(true)
    t.start()
    try body(s"http://127.0.0.1:${ss.getLocalPort}/blob")
    finally ss.close()
  }

  private def partial(start: Int, end: Int, contentRange: String): String = {
    val body = new String(content.slice(start, end + 1), "ISO-8859-1")
    s"HTTP/1.1 206 Partial Content\r\nContent-Range: $contentRange\r\n" +
      s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n$body"
  }

  test("a reset connection is retried") {
    // two resets: more than the JDK client's own single retry covers
    withStub(i => if (i < 2) None
        else Some(partial(10, 41, s"bytes 10-41/${content.length}"))) { u =>
      assert(readAt(stream(u), 10, 32).toSeq == expected(10, 32))
    }
  }

  test("a 206 for other bytes, or of another object, fails typed at once") {
    val wrongStart = partial(0, 31, s"bytes 0-31/${content.length}")
    val wrongTotal = partial(10, 41, "bytes 10-41/99")
    for (answer <- Seq(wrongStart, wrongTotal)) {
      val served = new java.util.concurrent.atomic.AtomicInteger(0)
      withStub { _ => served.incrementAndGet(); Some(answer) } { u =>
        val e = intercept[RangeReadException](readAt(stream(u), 10, 32))
        assert(e.getMessage.contains("Content-Range"), e.getMessage)
      }
      assert(served.get == 1, "a mismatched range must not be retried")
    }
  }

  test("a 206 with a case-variant unit or an unknown total is accepted") {
    for (cr <- Seq("bytes 10-41/*", s"BYTES 10-41/${content.length}"))
      withStub(_ => Some(partial(10, 41, cr))) { u =>
        assert(readAt(stream(u), 10, 32).toSeq == expected(10, 32), cr)
      }
  }

  test("a 503's Retry-After sets the wait before the next attempt") {
    val throttled = "HTTP/1.1 503 Service Unavailable\r\nRetry-After: 1\r\n" +
      "Content-Length: 0\r\nConnection: close\r\n\r\n"
    withStub(i => Some(if (i == 0) throttled
        else partial(10, 41, s"bytes 10-41/${content.length}"))) { u =>
      val t0 = System.nanoTime()
      assert(readAt(stream(u), 10, 32).toSeq == expected(10, 32))
      val waitedMs = (System.nanoTime() - t0) / 1e6
      // without the header the first backoff is 100 ms
      assert(waitedMs >= 1000, s"retried after $waitedMs ms")
    }
  }

  test("readVectored returns the bytes of per-range positioned reads") {
    val n = content.length
    val layouts = Seq(
      "adjacent" -> Seq((4L, 1000), (1004L, 50000), (51004L, 7)),
      "gapped" -> Seq((0L, 100), (2000L, 300), (30000L, 64), (700000L, 4096)),
      "unsorted, to EOF" -> Seq((n - 8L, 8), (n - 3000L, 1000), (3L, 5)))
    for ((name, layout) <- layouts) {
      val stats = new FileSystem.Statistics("graftshare")
      val ranges = layout.map { case (off, len) => FileRange.createFileRange(off, len) }
      stream(stats = Some(stats)).readVectored(ranges.asJava,
        (len: Int) => ByteBuffer.allocate(len))
      val single = stream()
      for ((r, (off, len)) <- ranges.zip(layout)) {
        val bb = r.getData.get()
        val got = new Array[Byte](bb.remaining)
        bb.duplicate().get(got)
        assert(got.toSeq == readAt(single, off, len).toSeq, s"$name @ $off")
      }
      assert(stats.getBytesRead == layout.map(_._2.toLong).sum, name)
      // a gap under Hadoop's default minSeekForVectorReads (4 KB in 3.3,
      // 16 KB in 3.4) shares a GET; a gap over 16 KB does not
      val gets = Map("adjacent" -> 1, "gapped" -> 3, "unsorted, to EOF" -> 2)
      assert(stats.getReadOps == gets(name), name)
    }
  }

  test("a range past 2 GB of a file over 2 GB is served") {
    // sparse: 3 GB of length, one 8-byte block of disk
    val big = dir.resolve("big.bin")
    val raf = new java.io.RandomAccessFile(big.toFile, "rw")
    val size = 3L << 30
    val marker = "graft-3G".getBytes("UTF-8")
    try { raf.seek(size - 8); raf.write(marker) } finally raf.close()
    try {
      server.addTable("sh", "sc", server.TableDef(
        "big", """{"type":"struct","fields":[]}""", Seq.empty,
        files = Seq(server.ServedFile(big, Map.empty))))
      val (_, _, Seq(f)) = client.getTableData(TableRef("sh", "sc", "big"))
      assert(f.size == size)
      val s = new SignedHttpInputStream(f.url, size, 1 << 20)
      val b = new Array[Byte](16)
      assert(s.read(size - 16, b, 0, 16) == 16)
      assert(b.toSeq == Seq.fill[Byte](8)(0) ++ marker.toSeq)
    } finally Files.delete(big)
  }

  test("readVectored into direct buffers, and failures reach every future") {
    val ranges = Seq(FileRange.createFileRange(100, 64),
      FileRange.createFileRange(900000, 64))
    stream().readVectored(ranges.asJava, (len: Int) => ByteBuffer.allocateDirect(len))
    for (r <- ranges) {
      val got = new Array[Byte](64)
      r.getData.get().duplicate().get(got)
      assert(got.toSeq == expected(r.getOffset, 64))
    }
    val failing = Seq(FileRange.createFileRange(0, 10),
      FileRange.createFileRange(800000, 10))
    withFault(DataFault.ServerError, 100) {
      stream().readVectored(failing.asJava, (len: Int) => ByteBuffer.allocate(len))
    }
    for (r <- failing) {
      val e = intercept[java.util.concurrent.ExecutionException](r.getData.get())
      assert(e.getCause.isInstanceOf[RangeReadException])
    }
  }

  private def p50Ms(f: () => Unit): Double = {
    (1 to 5).foreach(_ => f()) // warm the connection pool and the JIT
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(ms.length / 2)
  }

  test("warm REST calls and warm range reads do not stall on delayed ACKs") {
    // Nagle on the server's socket makes each small response wait ~40 ms
    // for the client's delayed ACK once the connection is reused
    val meta = p50Ms(() => client.getTableMetadata(table))
    val s = stream()
    val range = p50Ms(() => readAt(s, 4096, 2048))
    info(f"p50: getTableMetadata $meta%.1f ms, 2 KB range $range%.1f ms")
    assert(meta < 20.0, s"getTableMetadata p50 $meta ms")
    assert(range < 20.0, s"2 KB positioned read p50 $range ms")
  }
}
