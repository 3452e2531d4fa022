package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Base64

import scala.collection.mutable

/** Seeded synthetic NEAR lake in the IngestBench block shape, extended so
  * that every route of the request mix reads non-empty tables: each block
  * carries 1-3 direct donations; the first blocks deploy the pots and
  * create the lists (with registrations); about a third of the later
  * blocks also carry one matching-pool donation to a pot.
  *
  * The generator keeps its own donation list, from which the expected
  * served counts are computed independently of the engine. Blocks must be
  * generated in height order: the seeded stream of choices is consumed
  * sequentially.
  */
final class Lake(seed: Long) {
  import Lake._

  private val rng = new scala.util.Random(seed)
  val donors: IndexedSeq[String] = (0 until NDonors).map(i => s"donor$i.near")
  val projects: IndexedSeq[String] = (0 until NProjects).map(i => s"proj$i.near")
  val pots: IndexedSeq[String] =
    (0 until NPots).map(i => s"pot$i.v1.potfactory.potlock.near")

  final case class Donation(id: Long, height: Long, donor: String,
      recipient: Option[String], pot: Option[String], near: Int, atMs: Long) {
    def cursor: String = s"${atMs * 1000L},$id"
  }

  val donations = mutable.ArrayBuffer[Donation]()
  private var nextHeight = H0
  private var nextId = 1L

  def height: Long = nextHeight - 1

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def receipt(id: String, receiver: String, signer: String,
      method: String, args: String, result: String): String =
    s"""{"receipt": {"receipt_id": "$id", "receiver_id": "$receiver",
       | "predecessor_id": "$signer", "receipt": {"Action": {"signer_id": "$signer",
       | "actions": [{"FunctionCall": {"method_name": "$method", "args": "${b64(args)}"}}]}}},
       | "execution_outcome": {"outcome": {"status": {"SuccessValue": "${b64(result)}"},
       | "logs": []}}}""".stripMargin.replace("\n", "")

  private def yocto(near: Int): String = s"$near${"0" * 24}"

  /** Generates the next block and records its donations. */
  def nextBlock(): String = {
    val h = nextHeight
    nextHeight += 1
    val i = (h - H0).toInt
    val atMs = BaseMs + i * 1000L
    val rs = mutable.ArrayBuffer[String]()
    if (i < NPots) {
      val args = s"""{"owner": "owner$i.near", "admins": [], "chef": "chef.near",
        | "pot_name": "pot $i", "pot_description": "d", "max_projects": 25,
        | "application_start_ms": 1718000000000, "application_end_ms": 1718100000000,
        | "public_round_start_ms": 1718200000000, "public_round_end_ms": 1718300000000,
        | "referral_fee_matching_pool_basis_points": 100,
        | "referral_fee_public_round_basis_points": 50, "chef_fee_basis_points": 200,
        | "source_metadata": {"link": "l", "version": "v", "commit_hash": "c"}}"""
        .stripMargin.replace("\n", "")
      rs += receipt(s"rp$h", pots(i), "v1.potfactory.potlock.near", "new", args, "{}")
    }
    if (i < NLists) {
      val id = i + 1
      rs += receipt(s"rl$h", "lists.potlock.near", s"owner$i.near", "create_list", "{}",
        s"""{"id": $id, "owner": "owner$i.near", "name": "L$id", "description": "D",
           | "cover_image_url": null, "admin_only_registrations": false,
           | "default_registration_status": "Approved", "admins": ["owner$i.near"],
           | "created_at": $atMs, "updated_at": $atMs}""".stripMargin.replace("\n", ""))
      val regs = (0 until 4).map { k =>
        s"""{"id": ${id * 100 + k}, "registrant_id": "${projects((i * 4 + k) % NProjects)}",
           | "list_id": $id, "status": "Approved", "submitted_ms": $atMs,
           | "updated_ms": $atMs, "registered_by": "owner$i.near"}""".stripMargin.replace("\n", "")
      }
      rs += receipt(s"rr$h", "lists.potlock.near", s"owner$i.near", "register_batch", "{}",
        regs.mkString("[", ",", "]"))
    }
    (0 until 1 + rng.nextInt(3)).foreach { k =>
      val d = Donation(nextId, h, donors(rng.nextInt(NDonors)),
        Some(projects(rng.nextInt(NProjects))), None, 1 + rng.nextInt(20), atMs + k)
      nextId += 1
      donations += d
      rs += receipt(s"rd$h-$k", "donate.potlock.near", d.donor, "donate", "{}",
        s"""{"id": ${d.id}, "donor_id": "${d.donor}", "total_amount": "${yocto(d.near)}",
           | "ft_id": "near", "message": null, "donated_at_ms": ${d.atMs},
           | "recipient_id": "${d.recipient.get}", "protocol_fee": "0"}"""
          .stripMargin.replace("\n", ""))
    }
    if (i >= NPots && rng.nextInt(3) == 0) {
      val d = Donation(nextId, h, donors(rng.nextInt(NDonors)), None,
        Some(pots(rng.nextInt(NPots))), 1 + rng.nextInt(20), atMs + 5)
      nextId += 1
      donations += d
      rs += receipt(s"rx$h", d.pot.get, d.donor, "donate", "{}",
        s"""{"id": ${d.id}, "donor_id": "${d.donor}", "total_amount": "${yocto(d.near)}",
           | "net_amount": "${yocto(d.near)}", "message": "gm", "donated_at": ${d.atMs},
           | "project_id": null, "protocol_fee": "0", "matching_pool": true}"""
          .stripMargin.replace("\n", ""))
    }
    s"""{"block": {"header": {"height": $h, "timestamp": ${atMs * 1000000L}}},
       | "shards": [{"shard_id": 0, "receipt_execution_outcomes": [${rs.mkString(",")}]}]}"""
      .stripMargin.replace("\n", "")
  }

  /** Generates the next block and lands it in `dir` atomically (written
    * aside, then renamed), so a lister never sees a partial block. */
  def land(dir: Path): Long = {
    val json = nextBlock()
    val h = height
    val tmp = dir.resolve(f".$h%012d.tmp")
    Files.write(tmp, json.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(f"$h%012d.json"), StandardCopyOption.ATOMIC_MOVE)
    h
  }

  // ------------------------------------------------------ expected counts
  /** Expected served values over the donations landed up to `height`. */
  final class Expect(val height: Long) {
    private val ds = donations.filter(_.height <= height)
    val total: Long = ds.size.toLong
    val donorsCount: Long = ds.map(_.donor).distinct.size.toLong
    val received: Map[String, Seq[Donation]] =
      ds.filter(_.recipient.isDefined).groupBy(_.recipient.get).map { case (k, v) => k -> v.toSeq }
    val sent: Map[String, Seq[Donation]] = ds.groupBy(_.donor).map { case (k, v) => k -> v.toSeq }
    val potDonations: Map[String, Seq[Donation]] =
      ds.filter(_.pot.isDefined).groupBy(_.pot.get).map { case (k, v) => k -> v.toSeq }
    /** USD received per account, at the fixed NEAR price. */
    def receivedUsd(acct: String): BigDecimal =
      received.getOrElse(acct, Nil).map(d => BigDecimal(d.near) * NearUsd).sum
    val pots: Int = math.min(NPots.toLong, height - H0 + 1).toInt
    val lists: Int = math.min(NLists.toLong, height - H0 + 1).toInt
  }
}

object Lake {
  val H0 = 100000000L
  val NDonors = 600
  val NProjects = 300
  val NPots = 8
  val NLists = 6
  /** 2024-06-10T06:13:20Z; one block per second from here. */
  val BaseMs = 1718000000000L
  val NearUsd: BigDecimal = BigDecimal("5.00")
}
