package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

/** The lookup templates over Zipf-skewed customer keys, and the check
  * of each answer against [[Expected]]. `wrongAnswer` shifts every
  * expected balance by one, so the failure path can be shown. */
final class Lookups(exp: Expected, seed: Long, wrongAnswer: Boolean) {
  import Lookups._

  private val keys: Array[Long] = {
    val ks = exp.customer.keys.toArray.sorted
    val r = new SplittableRandom(seed)
    for (i <- ks.indices.reverse) { val j = r.nextInt(i + 1); val t = ks(i); ks(i) = ks(j); ks(j) = t }
    ks
  }
  // cumulative Zipf(s = 1) weights over the seeded key permutation
  private val cdf: Array[Double] = {
    val w = keys.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }

  def pickKey(r: SplittableRandom): Long = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    keys(math.min(if (i >= 0) i else -i - 1, keys.length - 1))
  }

  def expectedPoint(k: Long): Option[(String, Double)] =
    exp.customer.get(k).map { case (n, b) => if (wrongAnswer) (n, b + 1) else (n, b) }

  /** None when `rows` answer `tpl` for key `k` correctly. A point
    * answer may show any value the writer committed to the key
    * (`ackedAtStart`: the key's last acknowledged batch when the read
    * was sent); merges touch no relationships, so the traversals must
    * match the generated tables exactly. */
  def check(tpl: Template, k: Long, rows: Seq[Seq[Any]], writes: Writes,
      ackedAtStart: Long): Option[String] = {
    val ok = tpl match {
      case Point => writes.pointOk(k, rows, expectedPoint(k), ackedAtStart)
      case Orders =>
        rows.forall(_.size == 1) &&
          rows.map(_.head).sortBy(_.asInstanceOf[Long]) == exp.ordersOf.getOrElse(k, Vector.empty)
      case Contains =>
        exp.containsOf.get(k) match {
          case Some((n, q)) => rows == Seq(Seq(n, q))
          case None => rows == Seq(Seq(0L, null))
        }
    }
    if (ok) None else Some(s"wrong_answer.${tpl.name}")
  }
}

object Lookups {
  sealed abstract class Template(val name: String, val query: String)
  case object Point extends Template("point", Service.PointQuery)
  case object Orders extends Template("orders",
    "MATCH (c:customer {c_custkey: $k})-[:PLACED]->(o:order) RETURN o.o_orderkey AS ok")
  case object Contains extends Template("contains",
    "MATCH (c:customer {c_custkey: $k})-[:PLACED]->(o:order)-[r:CONTAINS]->(p:part) " +
      "RETURN count(*) AS n, sum(r.l_quantity) AS qty")
  val templates: Seq[Template] = Seq(Point, Orders, Contains)

  val MergeQuery: String =
    "UNWIND $batch AS row MERGE (c:customer {c_custkey: row.k}) " +
      "ON CREATE SET c.c_name = row.name, c.c_acctbal = row.bal " +
      "ON MATCH SET c.c_acctbal = row.bal"
  /** Written balances are BalBase + batch number: above any generated balance. */
  val BalBase = 1000000.0
}

/** What the ingest writer has sent and acknowledged, for read-your-writes
  * checks: batch b writes balance BalBase + b to every key it holds. */
final class Writes {
  private val batchKeys = new ConcurrentHashMap[Long, Set[Long]]()
  private val acked = new ConcurrentHashMap[Long, Long]()
  @volatile var lastAcked: Long = 0L

  def begin(b: Long, keys: Set[Long]): Unit = batchKeys.put(b, keys)
  def ack(b: Long): Unit = {
    batchKeys.get(b).foreach(k => acked.merge(k, b, (x, y) => math.max(x, y)))
    lastAcked = b
  }
  def recentKeys: Option[Array[Long]] =
    if (lastAcked == 0) None else Some(batchKeys.get(lastAcked).toArray)
  def ackedBatch(k: Long): Long = acked.getOrDefault(k, 0L)

  /** A point answer is right when it shows the original row and no
    * write of the key was acknowledged when the read started, or a
    * written balance from a batch holding the key that is no older
    * than the last acknowledged one (`ackedAtStart`). */
  def pointOk(k: Long, rows: Seq[Seq[Any]], original: Option[(String, Double)],
      ackedAtStart: Long): Boolean = {
    val a = ackedAtStart
    val name = original.map(_._1).getOrElse(s"New#$k")
    rows match {
      case Seq() => original.isEmpty && a == 0
      case Seq(Seq(n, bal: Double)) if bal >= Lookups.BalBase =>
        val b = (bal - Lookups.BalBase).toLong
        n == name && b >= a && b.toDouble + Lookups.BalBase == bal &&
          Option(batchKeys.get(b)).exists(_.contains(k))
      case Seq(Seq(n, bal)) => a == 0 && original.contains((n, bal))
      case _ => false
    }
  }
}
