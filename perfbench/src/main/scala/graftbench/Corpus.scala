package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** The routed-message generator shared by `route_batch` and `route_stream`.
  *
  * Row `i` of a seed is the message in pool slot `slot(seed, i)`. The pool
  * holds 65,536 messages drawn with the class shares of the reference's
  * load corpus (`sample_input.txt`: 10,000 noise lines, 100 syslog, 2
  * ceph.log, 1 ceph-mon, 98 + 99 prefix-less decoys) plus a CIDR-hit class
  * and a ceph-osd class, so every split of `RefRoutePlan.openstack` fires,
  * the drop split included. Half the noise is 19-character random strings,
  * half ~300-byte JSON log lines whose `"source"` matches no split.
  *
  * Each class names the topic the reference semantics send it to, so the
  * expected per-topic counts of any offset range follow from the generator
  * alone, independently of the router under test.
  */
object Corpus {
  final case class RowClass(name: String, topic: String, weight: Int)

  /** Topic label for rows a drop split claims: they reach no topic. */
  val Dropped = "__dropped"

  val classes: IndexedSeq[RowClass] = IndexedSeq(
    RowClass("noise_short", "os-unmatched", 5000),
    RowClass("noise_json", "os-unmatched", 5000),
    RowClass("syslog", "forti-match", 100),
    RowClass("cidr", "office-match", 100),
    RowClass("ceph_log", "os-match", 2),
    RowClass("ceph_mon", "os-debug", 1),
    RowClass("ceph_osd", Dropped, 2),
    RowClass("decoy_log", "os-unmatched", 98),
    RowClass("decoy_mon", "os-unmatched", 99))

  val topics: Seq[String] = classes.map(_.topic).distinct

  private val SlotBits = 16

  final class Pool(val values: Array[Array[Byte]], val cls: Array[Int])

  private val pools = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Pool]()

  /** The seed's message pool, built once per JVM (executors share it in
    * local mode) and rebuilt only after `forget`.
    */
  def pool(seed: Long): Pool = pools.computeIfAbsent(seed, _ => build(seed))

  def forget(seed: Long): Unit = pools.remove(seed)

  /** SplitMix64 finalizer: a fixed bijective mix of the row index. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def slot(seed: Long, i: Long): Int =
    (mix(seed * 0x9e3779b97f4a7c15L + i) >>> (64 - SlotBits)).toInt

  def key(i: Long): Array[Byte] = java.lang.Long.toString(i).getBytes(UTF_8)

  /** Expected rows per topic (and `Dropped`) for rows `[lo, hi)`. */
  def expected(seed: Long, lo: Long, hi: Long): Map[String, Long] = {
    val p = pool(seed)
    val n = new Array[Long](classes.size)
    var i = lo
    while (i < hi) { n(p.cls(slot(seed, i))) += 1; i += 1 }
    classes.indices.groupBy(c => classes(c).topic).map { case (t, cs) => t -> cs.map(n(_)).sum }
  }

  private val Alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private val Words = Array("connection", "accepted", "from", "worker", "request",
    "completed", "latency", "bytes", "status", "retry", "session", "closed",
    "heartbeat", "timeout", "queue", "flush", "replica", "scrub", "client")
  private val Levels = Array("info", "warn", "debug", "error")

  private def rand(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    for (_ <- 0 until n) sb += Alnum.charAt(r.nextInt(Alnum.length))
    sb.toString
  }

  private def json(r: SplittableRandom, source: String): String = {
    val sb = new StringBuilder(320)
    sb ++= f"""{"ts":"2024-03-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.${r.nextInt(1000)}%03dZ","""
    sb ++= s""""host":"node-${r.nextInt(64)}","source":"$source","level":"${Levels(r.nextInt(4))}","pid":${r.nextInt(65536)},"msg":""""
    val target = 290 + r.nextInt(21)
    while (sb.length < target) sb ++= Words(r.nextInt(Words.length)) += ' '
    (sb ++= "\"}").toString
  }

  private def noiseSource(r: SplittableRandom): String = r.nextInt(6) match {
    case 0 => "/var/log/nginx/access.log"
    case 1 => "/var/log/kern.log"
    case 2 => "/var/log/auth.log"
    case 3 => s"/var/log/ceph/ceph-mgr.${r.nextInt(4)}.log"
    case 4 => s"10.220.${72 + r.nextInt(100)}.${r.nextInt(256)}" // third octet outside 64-71
    case _ => s"10.221.${64 + r.nextInt(8)}.${r.nextInt(256)}"
  }

  private def message(cls: String, r: SplittableRandom): String = cls match {
    case "noise_short" => rand(r, 19)
    case "noise_json" => json(r, noiseSource(r))
    case "syslog" => json(r, "/var/log/syslog")
    case "cidr" => json(r, s"10.220.${64 + r.nextInt(8)}.${r.nextInt(256)}")
    case "ceph_log" => json(r, "/var/log/ceph/ceph.log")
    case "ceph_mon" => json(r, s"/var/log/ceph/ceph-mon.${r.nextInt(5)}.log")
    case "ceph_osd" => json(r, s"/var/log/ceph/ceph-osd.${r.nextInt(12)}.log")
    case "decoy_log" => rand(r, 8) + "/var/log/ceph/ceph.log" + rand(r, 5)
    case "decoy_mon" => rand(r, 8) + "/var/log/ceph/ceph-mon" + "owowowowo"
  }

  private def build(seed: Long): Pool = {
    val r = new SplittableRandom(seed)
    val total = classes.map(_.weight).sum
    val size = 1 << SlotBits
    val cls = Array.fill(size) {
      var u = r.nextInt(total); var c = 0
      while (u >= classes(c).weight) { u -= classes(c).weight; c += 1 }
      c
    }
    new Pool(cls.map(c => message(classes(c).name, r).getBytes(UTF_8)), cls)
  }
}
