package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

/** Every input the benchmark feeds the engine, derived from the run's seed
  * alone. Pure Scala, no Spark: the same seed yields byte-identical CSV
  * drops, base rows and DML batches (GenSpec pins this), and the engine
  * only ever sees what these functions return.
  */
object Gen {

  /** One silver-shaped claim (the columns SilverCleanse emits, minus the
    * ones derived from these). */
  final case class Claim(claimId: String, memberId: String,
      provider: String, amount: Double, serviceDate: LocalDate,
      batchId: String)

  /** One dirty CSV drop and what cleansing must keep of it. */
  final case class Drop(index: Int, csv: Array[Byte], rows: Int,
      clean: Int)

  sealed trait Dml { def index: Int }
  final case class Upsert(index: Int, rows: Vector[Claim]) extends Dml
  final case class DeleteKeys(index: Int, keys: Vector[String]) extends Dml
  /** Delete every live row of one month whose amount is at least
    * `minAmount` (a fixed 5000, so a range delete removes a similar
    * share of a month whatever the seed). */
  final case class DeleteRange(index: Int, year: Int, month: Int,
      minAmount: Double) extends Dml

  val FirstDay: LocalDate = LocalDate.of(2021, 1, 1)

  private val Providers = Vector("Clinica Norte", "Hospital Sao Lucas",
    "Lab Vida", "Centro Medico Sul", "Pronto Socorro Leste",
    "Clinica, Oeste", "Imagem Diagnostica", "Hospital Central",
    "Odonto Mais", "Fisio Bem", "Cardio Care", "Oftalmo Visao",
    "Pediatria Feliz", "Ortopedia Forte", "Dermato Pele", "Neuro Clinic",
    "Lab Analise", "Hospital Santa Rita", "Clinica Aurora",
    "Centro de Saude 9")

  /** A stream of its own for each (seed, purpose, index), so adding a
    * purpose or reading inputs in another order never shifts another. */
  private def rng(seed: Long, purpose: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      purpose * 0xC2B2AE3D27D4EB4FL ^ index * 0x165667B19E3779F9L)

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    (1 to n).foreach(_ => sb.append("0123456789abcdef".charAt(r.nextInt(16))))
    sb.toString
  }

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def amountOf(r: SplittableRandom): Double =
    r.nextInt(20) match {
      case 0 => Seq(100.0, 1000.0, 10000.0)(r.nextInt(3)) // bucket edges
      case 1 => 0.0
      case _ => cents(math.exp(2.0 + r.nextDouble() * 8.0)) // ~7 .. 22k
    }

  private def dateOf(r: SplittableRandom): LocalDate =
    FirstDay.plusDays(r.nextInt(4 * 365 + 1).toLong)

  /** Service date of a claim in an hourly drop: mostly the last 45 days,
    * 1 in 50 a late claim from the 3 months before, so each publish
    * republishes a handful of months rather than the whole history. */
  private def recentDateOf(r: SplittableRandom): LocalDate = {
    val last = FirstDay.plusDays(4 * 365L)
    if (r.nextInt(50) == 0) last.minusDays(45 + r.nextInt(90).toLong)
    else last.minusDays(r.nextInt(45).toLong)
  }

  // ---------------------------------------------------------------- ingest

  private def quote(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
  private def pad2(n: Int) = f"$n%02d"

  /** Drop `index` of the ingest stream: `rows` raw claims carrying every
    * dirt class the silver cleanse handles — null and padded ids, null
    * and blank providers, null and negative amounts, ISO / US / EU dates
    * (EU with day <= 12 is ambiguous and parses as US), and garbage or
    * missing dates. `clean` counts the rows cleansing keeps: those with a
    * claim id and a member id. */
  def drop(seed: Long, index: Int, rows: Int): Drop = {
    val r = rng(seed, 1, index)
    val sb = new StringBuilder(
      "claim_id,member_id,provider_name,claim_amount,service_date\n")
    var clean = 0
    (0 until rows).foreach { i =>
      val id = f"C$index%05d-$i%05d-${hex(r, 4)}"
      val claim = r.nextInt(50) match {
        case 0 => ""                  // null id: dropped
        case 1 | 2 => quote(s"  $id ") // padded: trimmed
        case _ => id
      }
      val mid = f"M${r.nextInt(4000)}%05d"
      val member = r.nextInt(50) match {
        case 0 => ""                   // null member: score 0.3, dropped
        case 1 => quote(s" $mid  ")
        case _ => mid
      }
      if (claim.nonEmpty && member.nonEmpty) clean += 1
      val p = Providers(r.nextInt(Providers.size))
      val provider = r.nextInt(25) match {
        case 0 => ""                   // null -> UNKNOWN
        case 1 => quote("   ")          // blank -> UNKNOWN
        case 2 => quote(s" ${p.toLowerCase} ")
        case _ => quote(p)
      }
      val amount = r.nextInt(30) match {
        case 0 => ""                   // null -> 0.0
        case 1 => f"-${r.nextInt(500) + 1}%d.50" // negative -> 0.0
        case _ => amountOf(r).toString
      }
      val d = recentDateOf(r)
      val (dd, mm, yy) = (pad2(d.getDayOfMonth), pad2(d.getMonthValue),
        d.getYear.toString)
      val date = r.nextInt(20) match {
        case 0 => ""
        case 1 => Seq("N/A", "TBD", "31-31-2023", "pending")(r.nextInt(4))
        case 2 | 3 | 4 => s"$mm/$dd/$yy"              // US
        case 5 | 6 | 7 => s"$dd/$mm/$yy"              // EU (ambiguous <= 12)
        case _ => d.toString                           // ISO
      }
      sb.append(claim).append(',').append(member).append(',')
        .append(provider).append(',').append(amount).append(',')
        .append(date).append('\n')
    }
    Drop(index, sb.toString.getBytes(UTF_8), rows, clean)
  }

  // ---------------------------------------------------------------- mutate

  /** The base silver table: `n` claims with random (hash-distributed)
    * ids and service dates over all 48 months, so service_date zones stay
    * within a month while claim_id zones span the key space (only the
    * Bloom index prunes key lookups). */
  def baseClaims(seed: Long, n: Int): Vector[Claim] = {
    val r = rng(seed, 2, 0)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[Claim]
    while (seen.size < n) {
      val id = "K" + hex(r, 12)
      if (seen.add(id))
        out += Claim(id, f"M${r.nextInt(3000)}%05d",
          Providers(r.nextInt(Providers.size)).toUpperCase, amountOf(r),
          dateOf(r), "b000")
    }
    out.result()
  }

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The base claims in hot-first order: Zipf rank i addresses `hot(i)`. */
  def hotClaims(seed: Long, base: Vector[Claim]): Vector[Claim] = {
    val r = rng(seed, 3, 0)
    val a = base.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  /** `k` distinct Zipf-skewed base claims (so a hot key recurs across
    * batches, never within one). */
  def skewed(r: SplittableRandom, zipf: Zipf, hot: Vector[Claim], k: Int)
      : Vector[Claim] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Claim]
    while (out.size < k) out += hot(zipf.sample(r))
    out.toVector
  }

  /** The month new claims arrive in (and the one analysts read). */
  val CurrentMonth: LocalDate = LocalDate.of(2024, 12, 1)

  /** DML batch `index` of the mutate stream. The kinds repeat every six
    * batches — upsert, key delete, range delete, upsert, upsert, upsert —
    * so any six consecutive batches hold four upserts and one delete of
    * each kind; the seed picks keys, rows and ranges. Upserts carry batch
    * ids that grow with the index, so latest-wins is decided by the batch
    * id. 80% of an upsert's rows correct Zipf-skewed existing claims (new
    * amount and provider, same service date); 20% are new claims of the
    * current month. */
  def dml(seed: Long, index: Int, zipf: Zipf, hot: Vector[Claim],
      upsertRows: Int, deleteKeys: Int): Dml = {
    val r = rng(seed, 4, index)
    val batch = f"u$index%06d"
    index % 6 match {
      case 1 => DeleteKeys(index, skewed(r, zipf, hot, deleteKeys).map(_.claimId))
      case 2 =>
        val d = dateOf(r)
        DeleteRange(index, d.getYear, d.getMonthValue, 5000.0)
      case _ =>
        val fixes = skewed(r, zipf, hot, upsertRows * 4 / 5).map(c =>
          c.copy(provider = Providers(r.nextInt(Providers.size)).toUpperCase,
            amount = amountOf(r), batchId = batch))
        val fresh = Vector.fill(upsertRows - fixes.size)(
          Claim(f"N$index%06d" + hex(r, 6), f"M${r.nextInt(3000)}%05d",
            Providers(r.nextInt(Providers.size)).toUpperCase, amountOf(r),
            CurrentMonth.plusDays(r.nextInt(31).toLong), batch))
        Upsert(index, fixes ++ fresh)
    }
  }

  /** Bytes of every input a seed yields for the given sizes — what the
    * determinism test compares. */
  def fingerprint(seed: Long, drops: Int, dropRows: Int, baseRows: Int,
      dmls: Int): Array[Byte] = {
    val sb = new StringBuilder
    (0 until drops).foreach(i =>
      sb.append(new String(drop(seed, i, dropRows).csv, UTF_8)))
    val base = baseClaims(seed, baseRows)
    base.foreach(c => sb.append(c).append('\n'))
    val hot = hotClaims(seed, base)
    val zipf = new Zipf(hot.size, 1.1)
    (0 until dmls).foreach(i =>
      sb.append(dml(seed, i, zipf, hot, 40, 20)).append('\n'))
    sb.toString.getBytes(UTF_8)
  }
}
