package lifebench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class PacketGenSpec extends AnyFunSuite {
  private def csv(seed: Long, stream: Int, first: Long, n: Int): Array[Byte] = {
    val dir = Files.createTempDirectory("packetgen")
    val f = dir.resolve("packets.csv")
    try {
      PacketGen.writeCsv(f, seed, stream, first, n)
      Files.readAllBytes(f)
    } finally {
      Files.deleteIfExists(f)
      Files.deleteIfExists(dir)
    }
  }

  test("the same seed gives a byte-identical CSV") {
    assert(java.util.Arrays.equals(csv(7, PacketGen.Corpus, 1, 2000), csv(7, PacketGen.Corpus, 1, 2000)))
  }

  test("another seed or another stream gives another CSV") {
    val base = csv(7, PacketGen.Corpus, 1, 200)
    assert(!java.util.Arrays.equals(base, csv(8, PacketGen.Corpus, 1, 200)))
    assert(!java.util.Arrays.equals(base, csv(7, PacketGen.Absorb, 1, 200)))
  }

  test("any frame range regenerates the same rows") {
    val whole = PacketGen.rows(3, PacketGen.Absorb, 1, 300)
    assert(PacketGen.rows(3, PacketGen.Absorb, 101, 100) == whole.slice(100, 200))
  }

  test("rows follow the flow schema and the protocol mix") {
    val lines = new String(csv(11, PacketGen.Corpus, 1, 3000), "UTF-8").split("\n")
    assert(lines.head == PacketGen.Header)
    val rows = lines.tail.map(_.split(",", -1))
    assert(rows.forall(_.length == 8))
    assert(rows.map(_(0).toLong).toSeq == (1L to 3000L))
    val byProto = rows.groupBy(_(6))
    assert(byProto.keySet == Set("TCP", "UDP", "DNS", "HTTP", "ARP", "ICMP"))
    // ports are empty on ARP and ICMP, so the ingest's null handling runs
    for (p <- Seq("ARP", "ICMP")) assert(byProto(p).forall(r => r(4).isEmpty && r(5).isEmpty))
    assert(byProto("DNS").forall(_(5) == "53"))
  }
}
