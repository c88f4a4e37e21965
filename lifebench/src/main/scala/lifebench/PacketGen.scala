package lifebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}

/** Seeded packet-capture generator in the reference's 8-column Wireshark
  * flow schema (`FlowParity.flowSchema`). Each row is drawn from its own
  * random stream, keyed by (seed, stream, frame number), so any frame range
  * can be regenerated on its own and the same seed always gives the same
  * bytes. Streams keep the initial corpus, later absorb batches and query
  * texts apart: one seed, three held-out draws.
  *
  * The protocol mix follows the simulator's traffic (TCP, UDP, DNS, HTTP,
  * ARP, ICMP); ARP and ICMP rows have empty ports, and ARP rows empty IP
  * fields, as a capture shows them, so the ingest's null handling runs.
  */
object PacketGen {
  val Corpus = 0
  val Absorb = 1
  val Queries = 2
  val RecallQueries = 3

  val Header = "frame_number,frame_time,ip_src,ip_dst,tcp_srcport,tcp_dstport,protocol,frame_len"

  private val protocols = Array("TCP", "UDP", "DNS", "HTTP", "ARP", "ICMP")
  // cumulative weights in percent, in `protocols` order
  private val cumulative = Array(35, 50, 65, 80, 90, 100)
  private val hosts = (2 to 21).map(i => s"172.20.0.$i").toArray
  private val resolvers = Array("8.8.8.8", "1.1.1.1", "172.20.0.1")
  private val webServers = Array("93.184.216.34", "142.250.74.46", "151.101.1.69", "104.16.132.229")
  private val tcpPorts = Array(22, 80, 443, 5432, 8080)
  private val epoch0 = 1712000000L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, stream: Int, frame: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + stream) + frame))

  /** One CSV row (no line terminator) for `frame` of `stream`. */
  def row(seed: Long, stream: Int, frame: Long): String = {
    val r = rng(seed, stream, frame)
    val w = r.nextInt(100)
    val proto = protocols(cumulative.indexWhere(w < _))
    val src = hosts(r.nextInt(hosts.length))
    def peer = hosts(r.nextInt(hosts.length))
    def ephemeral = 32768 + r.nextInt(28232)
    val (ipSrc, ipDst, sport, dport, len) = proto match {
      case "TCP" => (src, if (r.nextBoolean()) peer else webServers(r.nextInt(webServers.length)),
        ephemeral.toString, tcpPorts(r.nextInt(tcpPorts.length)).toString, 54 + r.nextInt(1461))
      case "UDP" => (src, peer, ephemeral.toString, (5000 + r.nextInt(1000)).toString, 60 + r.nextInt(541))
      case "DNS" => (src, resolvers(r.nextInt(resolvers.length)), ephemeral.toString, "53", 70 + r.nextInt(71))
      case "HTTP" => (src, webServers(r.nextInt(webServers.length)), ephemeral.toString, "80", 200 + r.nextInt(1315))
      case "ARP" => ("", "", "", "", 42)
      case _ => (src, peer, "", "", 98) // ICMP echo
    }
    val time = String.format(Locale.ROOT, "%d.%06d",
      Long.box(epoch0 + frame / 32), Int.box(r.nextInt(1000000)))
    s"$frame,$time,$ipSrc,$ipDst,$sport,$dport,$proto,$len"
  }

  /** Rows for frames `first until first + n` of `stream`. */
  def rows(seed: Long, stream: Int, first: Long, n: Int): IndexedSeq[String] =
    (0 until n).map(i => row(seed, stream, first + i))

  /** Write a headed CSV of frames `first until first + n` of `stream`. */
  def writeCsv(path: Path, seed: Long, stream: Int, first: Long, n: Int): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new java.lang.StringBuilder(n * 80)
    sb.append(Header).append('\n')
    rows(seed, stream, first, n).foreach(l => sb.append(l).append('\n'))
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
