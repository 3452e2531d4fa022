package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.SilverStore
import graft.operators.{BucketedLayout, MergeWriter, TableSwap}

/** Envelope-count provider over the gold counter states — the serve
  * plane's answer to the per-request count job (reference
  * api/pagination.py:8-9: DRF counts the queryset on every page request).
  *
  * At 100 TB the donation routes' count job is the cold-path bottleneck:
  * `donations` is donor-bucketed, so a recipient- or pot-filtered count
  * scans the whole fact table per request. The incremental gold beat
  * already maintains exact per-key counters as additive monoid state
  * (GoldRefresh: recv_pairs(recipient, donor, n, usd) /
  * donor_state(donor, n, …) / pot_state(pot, n, …), each BUCKETED on its
  * key) — so the count is a bucket-pruned lookup of state rows, work
  * bounded by one bucket regardless of corpus size.
  *
  * Exactness contract (counts must equal the live scan count, not
  * approximate it): a count is served ONLY when gold is provably current
  * with silver — the donations swap-marker uid recorded by the last
  * refresh (gold_meta) equals the table's uid NOW. Every merge path
  * rotates the marker, so uid equality ⟺ no donation write since the
  * beat. Anything else (no beat yet, ingest since the beat, missing
  * state) answers None and the caller falls back to the live count job —
  * degraded latency, never a wrong envelope.
  *
  * State reads go through cached bucketed-table registrations
  * (SilverStore.registerCached), so the scan reports the key's
  * HashPartitioning and Spark prunes to the key's single bucket.
  */
final class GoldCounts(spark: SparkSession, silverDir: String) {
  private def io = MergeWriter.io
  private val buckets = SilverStore.accountsLayout.n

  private def uidOf(path: String): String = TableSwap.markerUid(path)

  /** Gold counters current with silver? (see exactness contract above)
    * Two conditions: the donations uid the last refresh consumed equals
    * the table's uid NOW (no donation write since the beat), and no
    * refresh is IN FLIGHT — a price- or payout-triggered refresh rewrites
    * the counter states and global_stats without touching the donations
    * marker, so uid currency alone cannot see that commit window. */
  def current(): Boolean =
    !GoldRefresh.refreshInFlight(silverDir) &&
      GoldRefresh.inputUid(silverDir, "donations")
        .exists(recorded => recorded.nonEmpty &&
          recorded == uidOf(s"$silverDir/donations"))

  /** Run a gold read under the exactness fence: currency checked BEFORE,
    * and after the read the inflight marker must still be absent with the
    * meta generation unchanged — a refresh that started or completed
    * inside the read window (partial state files, a mid-swap
    * global_stats) fails the post-check and the caller falls back to the
    * live count. Any exception (mid-swap FileNotFound between an exists
    * probe and the read) also answers None — the contract is degraded
    * latency, never a wrong envelope, never a failed request. */
  private def fenced[T](read: => T): Option[T] = {
    if (!current()) return None
    val genBefore = GoldRefresh.metaGeneration(silverDir)
    scala.util.Try(read).toOption.filter { _ =>
      !GoldRefresh.refreshInFlight(silverDir) &&
        GoldRefresh.metaGeneration(silverDir) == genBefore && genBefore.nonEmpty
    }
  }

  /** A state table as a bucket-pruning scan, or None when absent /
    * not yet in bucketed layout (pre-beat store). */
  private def state(name: String, keyCol: String): Option[DataFrame] = {
    val p = s"${GoldRefresh.stateDir(silverDir)}/$name"
    if (!io.exists(p) || !BucketedLayout.looksBucketed(p)) return None
    val catalogName = s"graft_goldcount_${name}_" +
      Integer.toHexString(silverDir.hashCode).replace('-', 'n')
    SilverStore.registerCached(spark, catalogName, p) {
      BucketedLayout.registerExternal(
        spark, catalogName, p, spark.read.parquet(p).schema, keyCol, buckets)
    }
    Some(spark.table(catalogName))
  }

  /** Sum the live counter over rows matching `key` — a key with no state
    * row has zero donations, a real count. The grouped sum collapses
    * map-side within the key's single bucket. */
  private def lookup(name: String, keyCol: String, key: String): Option[Long] =
    fenced {
      state(name, keyCol).map { st =>
        st.filter(col(keyCol) === key)
          .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
      }
    }.flatten

  /** Count for GET /v1/accounts/{id}/donations_received. */
  def donationsReceived(id: String): Option[Long] =
    lookup("recv_pairs", "recipient", id)

  /** Count for GET /v1/accounts/{id}/donations_sent. */
  def donationsSent(id: String): Option[Long] =
    lookup("donor_state", "donor", id)

  /** Count for GET /v1/pots/{id}/donations. */
  def potDonations(potId: String): Option[Long] =
    lookup("pot_state", "pot", potId)

  /** Count for GET /v1/donors — the distinct-donor total the beat wrote
    * to global_stats (one-row read instead of the route's per-request
    * accounts⋈donations semi-join count). Exactness rides the same
    * currency check; equality with the route's own count holds because
    * ingest discovers an accounts row for every donor (J8 anti-join
    * discovery), so distinct donors ≡ accounts with ≥1 donation. */
  def totalDonors(): Option[Long] = {
    val p = s"$silverDir/global_stats"
    fenced {
      if (!io.exists(p)) None
      else spark.read.parquet(p).select("total_donors_count")
        .head().get(0) match {
          case n: java.lang.Long => Some(n.longValue())
          case _ => None
        }
    }.flatten
  }
}
