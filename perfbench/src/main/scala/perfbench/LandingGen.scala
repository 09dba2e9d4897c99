package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Seeded, reference-shaped landing generator (SURVEY §1.2).
  *
  * Batch `k` (1-based) of seed `s` is a pure function of `(s, k)`:
  *   - 50k user events over seven weighted event types, subtype fields
  *     present only on their own types (search_query on search,
  *     element_id on click, product_id/quantity on cart events), plus a
  *     `version` field; a 2% share of each batch re-delivers events of
  *     the previous two batches with a higher version and a changed
  *     page/device, so every MERGE touches three event dates;
  *   - 10k nested transactions: purchase/refund/chargeback at 85/12/3%,
  *     refunds and chargebacks carry `original_transaction_id` and
  *     negative amounts, 1–5 line items each;
  *   - a customers slice: customers late to the dimension (25 per batch
  *     until the late pool of 200 is drained) plus 10 updates to
  *     customers already known.
  * Files land as JSON lines, five per entity, named the way the
  * reference's consumers name them (`user_events_*`, `transaction_events_*`).
  * Amounts are generated in cents and printed exactly, so the bytes of a
  * batch never depend on float formatting.
  *
  *   java -cp ... perfbench.LandingGen <dir> <seed> <batches>
  */
final class LandingGen(seed: Long) {
  import LandingGen._

  /** Customers 0..999; a seeded 200 of them are missing from the initial
    * dimension and arrive in later batches. */
  val latePool: IndexedSeq[Int] = {
    val r = rng(seed, 0L, 0L)
    val ids = Array.tabulate(NCustomers)(identity)
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids.take(NLate).toIndexedSeq
  }

  def initialCustomers: Seq[Int] = {
    val late = latePool.toSet
    (0 until NCustomers).filterNot(late)
  }

  /** One customer row; `rev` > 0 is an update with new loyalty/tier. */
  def customerJson(id: Int, rev: Int): String = {
    val r = rng(seed, 1L + id, rev.toLong)
    val tier = AccountTypes(weighted(r, AccountWeights))
    s"""{"user_id":"${userId(id)}","email":"user$id@example.com","first_name":"F$id","last_name":"L$id",""" +
      s""""registration_date":"2023-${pad2(1 + id % 12)}-${pad2(1 + id % 28)}","account_type":"$tier",""" +
      s""""date_of_birth":"19${60 + id % 40}-${pad2(1 + id % 12)}-15","loyalty_points":${r.nextInt(10000) + rev},""" +
      s""""state":"${States(id % States.length)}"}"""
  }

  def writeInitialCustomers(file: Path): Unit =
    write(file, initialCustomers.map(customerJson(_, 0)))

  /** Write batch `k` into `dir`; returns its row counts. */
  def writeBatch(dir: Path, k: Int): BatchCounts = {
    Files.createDirectories(dir)
    val r = rng(seed, -1L, k.toLong)
    val day = BaseDay.plusDays(k.toLong)
    var lineItems = 0L
    // -- user events
    for (f <- 0 until Files_) {
      val lines = new Array[String](EventsPerBatch / Files_)
      for (i <- lines.indices) {
        val n = f * lines.length + i
        lines(i) =
          if (k > 1 && r.nextInt(100) < RedeliveryPct) {
            // at-least-once redelivery reaches back one or two batches
            val pk = math.max(1, k - 1 - r.nextInt(2))
            eventJson(pk, r.nextInt(EventsPerBatch), version = k - pk + 1)
          } else eventJson(k, n, version = 1)
      }
      write(dir.resolve(f"user_events_b$k%04d_$f.json"), lines.toSeq)
    }
    // -- transactions
    for (f <- 0 until Files_) {
      val lines = new Array[String](TxPerBatch / Files_)
      for (i <- lines.indices) {
        val n = f * lines.length + i
        val (json, items) = txJson(k, n, day, r)
        lines(i) = json; lineItems += items
      }
      write(dir.resolve(f"transaction_events_b$k%04d_$f.json"), lines.toSeq)
    }
    // -- late and updated customers
    val late = latePool.slice((k - 1) * LatePerBatch, k * LatePerBatch)
    val known = initialCustomers
    val updates = (0 until UpdatesPerBatch).map(_ => known(r.nextInt(known.size)))
    write(dir.resolve(f"customers_b$k%04d.json"),
      late.map(customerJson(_, 0)) ++ updates.distinct.map(customerJson(_, k)))
    BatchCounts(EventsPerBatch, lineItems)
  }

  /** Event `n` of batch `b`, as delivered with `version`. Everything but
    * page/device is a function of (b, n), so a redelivery is the same
    * event with a newer version. */
  private def eventJson(b: Int, n: Int, version: Int): String = {
    val r = rng(seed, b.toLong << 32, n.toLong)
    val et = EventTypes(weighted(r, EventWeights))
    val user = r.nextInt(NCustomers)
    val secs = r.nextInt(86400)
    val day = BaseDay.plusDays(b.toLong)
    val sb = new StringBuilder(320)
    sb.append(s"""{"event_id":"${hexId(r)}","user_id":"${userId(user)}","session_id":"${hexId(r).take(12)}",""")
    sb.append(s""""event_type":"$et","timestamp":"${day}T${clock(secs)}Z",""")
    val pv = if (version > 1) version * 3 else 0
    sb.append(s""""page":"${Pages((r.nextInt(Pages.length) + pv) % Pages.length)}",""")
    sb.append(s""""device":"${Devices((r.nextInt(Devices.length) + version - 1) % Devices.length)}",""")
    sb.append(s""""browser":"${Browsers(r.nextInt(Browsers.length))}","ip_address":"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",""")
    val c = r.nextInt(Countries.length)
    sb.append(s""""country":"${Countries(c)}","city":"${Cities(c)}"""")
    et match {
      case "search" => sb.append(s""","search_query":"q${r.nextInt(500)}"""")
      case "click" => sb.append(s""","element_id":"btn-${r.nextInt(60)}"""")
      case "add_to_cart" | "remove_from_cart" =>
        sb.append(s""","product_id":"${productId(r.nextInt(NProducts))}","quantity":${1 + r.nextInt(5)}""")
      case _ =>
    }
    sb.append(s""","version":$version}""")
    sb.toString
  }

  private def txJson(k: Int, n: Int, day: java.time.LocalDate,
                     r: java.util.Random): (String, Int) = {
    val roll = r.nextInt(100)
    val tt = if (roll < 85) "purchase" else if (roll < 97) "refund" else "chargeback"
    val sign = if (tt == "purchase") 1L else -1L
    val sroll = r.nextInt(100)
    val status = if (sroll < 5) "pending" else if (sroll < 93) "completed"
      else if (sroll < 98) "failed" else "cancelled"
    val nItems = 1 + r.nextInt(5)
    var subtotal = 0L
    val items = (0 until nItems).map { _ =>
      val p = r.nextInt(NProducts)
      val q = 1 + r.nextInt(5)
      val unit = 199L + r.nextInt(49800)
      subtotal += q * unit
      s"""{"product_id":"${productId(p)}","product_name":"Product $p","category":"${Categories(p % Categories.length)}",""" +
        s""""brand":"Brand${p % 40}","quantity":$q,"unit_price":${cents(unit)}}"""
    }.mkString("[", ",", "]")
    val tax = (subtotal * 8 + 50) / 100
    val orig = if (sign < 0) {
      // an earlier purchase of this or a previous batch
      val ob = 1 + r.nextInt(k); val on = r.nextInt(TxPerBatch)
      s""","original_transaction_id":"${txId(ob, on)}""""
    } else ""
    val c = r.nextInt(Countries.length)
    def addr(tag: String) =
      s"""{"street":"${r.nextInt(9999)} $tag St","city":"${Cities(c)}","state":"${States(r.nextInt(States.length))}",""" +
        s""""zip_code":"${10000 + r.nextInt(89999)}","country":"${Countries(c)}"}"""
    val json =
      s"""{"transaction_id":"${txId(k, n)}","user_id":"${userId(r.nextInt(NCustomers))}","transaction_type":"$tt",""" +
        s""""timestamp":"${day}T${clock(r.nextInt(86400))}Z","status":"$status",""" +
        s""""payment_method":"${Payments(r.nextInt(Payments.length))}","currency":"USD","line_items":$items,""" +
        s""""subtotal":${cents(sign * subtotal)},"tax":${cents(sign * tax)},"total":${cents(sign * (subtotal + tax))},""" +
        s""""billing_address":${addr("Bill")},"shipping_address":${addr("Ship")}$orig}"""
    (json, nItems)
  }

  private def txId(k: Int, n: Int): String = s"tx-$seed-${pad(k, 4)}-${pad(n, 5)}"
}

final case class BatchCounts(events: Int, lineItems: Long)

object LandingGen {
  val NCustomers = 1000
  val NLate = 200
  val LatePerBatch = 25
  val UpdatesPerBatch = 10
  val NProducts = 2000
  val EventsPerBatch = 50000
  val TxPerBatch = 10000
  val RedeliveryPct = 2
  private val Files_ = 5
  private val BaseDay = java.time.LocalDate.of(2024, 3, 1)

  val EventTypes = Array("page_view", "click", "search", "add_to_cart",
    "remove_from_cart", "login", "logout")
  private val EventWeights = Array(35, 20, 12, 10, 5, 10, 8)
  val AccountTypes = Array("standard", "premium", "enterprise")
  private val AccountWeights = Array(70, 25, 5)
  val Categories = Array("Electronics", "Clothing", "Home", "Books", "Sports",
    "Beauty", "Toys", "Grocery", "Garden", "Automotive")
  private val Pages = Array("home", "products", "product_detail", "cart",
    "checkout", "profile", "settings", "help")
  private val Devices = Array("desktop", "mobile", "tablet")
  private val Browsers = Array("Chrome", "Firefox", "Safari", "Edge")
  private val Countries = Array("US", "DE", "FR", "GB", "JP", "BR", "IN", "CA")
  private val Cities = Array("Austin", "Berlin", "Paris", "London", "Tokyo",
    "Recife", "Pune", "Toronto")
  private val States = Array("California", "Texas", "New York", "Florida",
    "Washington", "Illinois", "Ohio", "Georgia")
  private val Payments = Array("credit_card", "debit_card", "paypal",
    "apple_pay", "google_pay", "bank_transfer")

  // plain string building: String.format would dominate generation time
  private def pad(i: Int, width: Int): String = {
    val s = i.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  /** A generator for one (seed, a, b) cell. Seeds go through a 64-bit mix
    * first: java.util.Random draws from nearby seeds are correlated. */
  def rng(seed: Long, a: Long, b: Long): java.util.Random =
    new java.util.Random(mix64(mix64(mix64(seed) ^ a) ^ b))

  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def userId(i: Int): String = "USER_" + pad(i, 4)
  private def productId(i: Int): String = "PROD_" + pad(i, 4)
  private def pad2(i: Int): String = pad(i, 2)
  private def clock(secs: Int): String =
    pad2(secs / 3600) + ":" + pad2(secs / 60 % 60) + ":" + pad2(secs % 60)
  private def cents(c: Long): String = {
    val a = math.abs(c)
    (if (c < 0) "-" else "") + (a / 100) + "." + pad2((a % 100).toInt)
  }
  private def hexId(r: java.util.Random): String =
    java.lang.Long.toHexString(r.nextLong() | Long.MinValue) +
      java.lang.Long.toHexString(r.nextLong() | Long.MinValue).take(8)
  private def weighted(r: java.util.Random, w: Array[Int]): Int = {
    var x = r.nextInt(w.sum); var i = 0
    while (x >= w(i)) { x -= w(i); i += 1 }
    i
  }
  private def write(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val Array(dir, seed, batches) = args
    val g = new LandingGen(seed.toLong)
    val root = Paths.get(dir)
    Files.createDirectories(root)
    g.writeInitialCustomers(root.resolve("customers_initial.json"))
    (1 to batches.toInt).foreach(k => g.writeBatch(root.resolve(f"batch_$k%04d"), k))
  }
}
