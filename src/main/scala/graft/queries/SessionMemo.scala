package graft
package queries

import org.apache.spark.sql.SparkSession

/** A build-once artifact per (session, sf dir). Keyed on the session
  * reference itself (SparkSession keeps reference equality): two live
  * sessions can share an identity hash, so the hash is no key. A fresh
  * child session (`newSession()`) is a new key and rebuilds; the same
  * session hits the memo.
  */
final class SessionMemo[A](build: (SparkSession, String) => A) {
  private val memo = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), A]

  def apply(s: SparkSession, dir: String): A = memo.getOrElseUpdate((s, dir), build(s, dir))
}
