package connbench

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sharing.{DeltaSharingClient, Profile, TableRef}
import graft.sharing.fs.SignedHttpFileSystem
import graft.sharing.server.LocalSharingServer

class CountingFileSystemSpec extends AnyFunSuite {

  /** Serve one file of seeded random bytes; returns its graftshare path. */
  private def served(bytes: Array[Byte])(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("counting-fs")
    val f = dir.resolve("part-0.parquet")
    Files.write(f, bytes)
    val server = new LocalSharingServer()
    server.addTable("s", "d", server.TableDef("t",
      """{"type":"struct","fields":[]}""", Seq.empty,
      Seq(server.ServedFile(f, Map.empty))))
    server.start()
    try {
      val client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
      val file = client.getTableData(TableRef("s", "d", "t"))._3.head
      body(new Path(SignedHttpFileSystem.encode(file.url, file.size)))
    } finally server.stop()
  }

  private def fileSystems(): (SignedHttpFileSystem, CountingFileSystem) = {
    val conf = new Configuration(false)
    val plain = new SignedHttpFileSystem
    plain.initialize(new URI("graftshare:///"), conf)
    val counting = new CountingFileSystem
    counting.initialize(new URI("graftshare:///"), conf)
    (plain, counting)
  }

  /** Every read shape parquet uses, concatenated. */
  private def readAll(in: FSDataInputStream, size: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val head = new Array[Byte](100)
    in.readFully(0L, head)                          // positioned, fully
    out.write(head)
    val mid = new Array[Byte](5000)
    val n = in.read(size / 2L, mid, 0, mid.length)  // positioned
    out.write(mid, 0, n)
    in.seek(size - 7000L)
    out.write(in.read())                            // single byte
    val tail = new Array[Byte](10000)
    var got = 0
    var r = 0
    while ({ r = in.read(tail, got, tail.length - got); r > 0 }) got += r
    out.write(tail, 0, got)                         // sequential to EOF
    out.write(in.getPos.toString.getBytes)
    out.toByteArray
  }

  test("the counting FileSystem forwards reads byte-for-byte") {
    val bytes = new Array[Byte](300000)
    new scala.util.Random(7).nextBytes(bytes)
    served(bytes) { path =>
      val (plain, counting) = fileSystems()
      FsCounters.clear()
      FsCounters.driverOp.set("spec")
      try {
        val viaPlain = readAll(plain.open(path), bytes.length)
        val viaCounting = readAll(counting.open(path), bytes.length)
        val viaBuilder = readAll(counting.openFile(path).build().get(), bytes.length)
        assert(viaCounting.sameElements(viaPlain))
        assert(viaBuilder.sameElements(viaPlain))
        assert(viaPlain.startsWith(bytes.take(100)))
        assert(counting.getFileStatus(path) == plain.getFileStatus(path))

        val c = FsCounters.of("spec")
        assert(c.opens.sum == 2)
        assert(c.files.size == 1)
        assert(c.bytes.sum == 2L * (100 + 5000 + 1 + 6999))
      } finally FsCounters.driverOp.remove()
    }
  }
}
