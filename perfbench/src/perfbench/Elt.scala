package perfbench

import java.io.{FileOutputStream, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.ManifestSwap
import graft.pipelines.{GeoIngest, OktaRefresh, WooIncremental}
import graft.sources.RestPager

/** The EL path's inputs, generated from the seed: an in-process paged
  * REST server for the Woo and Okta syncs, and the GeoNames files. Each
  * server counts its pages and the time it spends building them, so
  * that time can be subtracted from the pipeline's. */
object Elt {

  /** Fake server base: counts requests and its own time. */
  abstract class Server extends RestPager.Transport {
    var pages = 0L
    var nanos = 0L
    def serve(url: String, params: Map[String, String]): RestPager.Response
    final def get(url: String, params: Map[String, String]): RestPager.Response = {
      val t0 = System.nanoTime()
      try serve(url, params) finally { pages += 1; nanos += System.nanoTime() - t0 }
    }
  }

  // -- Woo: one full sync then incremental syncs, 100 orders per page --

  // Order volumes are assumed (the reference publishes no order counts);
  // `f` scales them down for the warm pass on smoke inputs.
  private def fullOrders(f: Double) = (1000 * f).toInt
  private def increments(f: Double) = Seq.fill(3)(((150 * f).toInt, (100 * f).toInt)) // (new, re-modified)

  private def cents(n: Int): String = f"${n / 100}%d.${n % 100}%02d"

  /** Serves orders in the shape the reference consumes (FIXTURES.md §2):
    * every top-level field, full billing/shipping, the nested `cru_data`
    * with its discounts list, `meta_data` EAV pairs, and line items with
    * their own `meta_data`/`cru_data`. The fixture cases ride along: the
    * `0000-00-00 00:00:00` date_shipped sentinel, empty-string weights,
    * an absent `cru_order_origin` key, and bundles (a parent item followed
    * by children whose `bundled_by` names it). */
  final class WooServer(seed: Long) extends Server {
    private val rnd = new Random(seed)
    // order id -> (date_modified, body)
    val current = mutable.LinkedHashMap.empty[Int, (String, String)]
    val lines = mutable.Map.empty[Int, Int]
    private var nextId = 1000 + rnd.nextInt(1000)

    private def pick(xs: String*): String = xs(rnd.nextInt(xs.size))
    private def address(withEmail: Boolean): String =
      s""""address_1": "${rnd.nextInt(9999)} Main St", "address_2": "", "city": "C${rnd.nextInt(100)}", "company": "", "country": "${pick("US", "US", "US", "CA")}",""" +
        (if (withEmail) s""" "email": "c${rnd.nextInt(5000)}@example.org",""" else "") +
        s""" "first_name": "F${rnd.nextInt(500)}", "last_name": "L${rnd.nextInt(500)}",""" +
        (if (withEmail) s""" "phone": "555-${rnd.nextInt(10000)}",""" else "") +
        s""" "postcode": "${10000 + rnd.nextInt(89999)}", "state": "${pick("FL", "GA", "TX", "CA", "NY")}""""

    private def item(id: Long, bundledBy: String): String = {
      val pid = rnd.nextInt(500)
      val msrp = cents(500 + rnd.nextInt(5000))
      s"""{"id": $id, "product_id": $pid, "name": "Product $pid", "sku": "SKU-$pid", "price": "${cents(100 + rnd.nextInt(9900))}", "quantity": ${1 + rnd.nextInt(5)}, "total_tax": "${cents(rnd.nextInt(200))}", "weight": "${if (rnd.nextBoolean()) "" else cents(rnd.nextInt(500))}", "bundled_by": "$bundledBy", "brand": "", "dept": "${pick("", "books", "media")}", "meta_data": [{"key": "_alg_wc_cog_item_cost", "value": "${cents(rnd.nextInt(1000))}"}], "cru_data": {"component": {"cost": "0", "id": 0, "msrp": "0", "regular_price": "0", "sku": ""}, "discount": "0.00", "donor_premium": "${rnd.nextBoolean()}", "exclude_discounting": "", "free_shipping": "", "gift_card": "", "msrp": "$msrp", "next_receipt_date": "", "regular_price": "$msrp", "royalty": ""}}"""
    }

    private def body(id: Int, modified: String): String = {
      val base = id.toLong * 10
      val items =
        if (rnd.nextInt(10) == 0) { // a bundle: parent then 1-3 children
          val kids = 1 + rnd.nextInt(3)
          item(base, "") +: (1 to kids).map(k => item(base + k, s"$base"))
        } else (0 until 1 + rnd.nextInt(3)).map(k => item(base + k, ""))
      lines(id) = items.size
      val discounts = Seq.fill(rnd.nextInt(3))(
        s"""{"amount": "${cents(rnd.nextInt(1000))}", "code": "C${rnd.nextInt(20)}", "type": "${pick("percent", "fixed_cart")}", "description": ""}""")
      val meta = s"""{"key": "event_code", "value": "E${rnd.nextInt(50)}"}""" +:
        (if (rnd.nextBoolean()) Seq(s"""{"key": "cru_order_origin", "value": "${pick("PHONE", "WEB", "MAIL")}"}""") else Nil)
      val shipped = if (rnd.nextBoolean()) "0000-00-00 00:00:00" else "2026-06-03 09:00:00"
      s"""{"id": $id, "order_key": "wc_$id", "status": "${pick("completed", "processing", "on-hold")}", "parent_id": 0, "order_type": "shop_order", "currency": "USD", "version": "9.0", "prices_include_tax": false, "date_created": "2026-06-01T10:00:00", "date_modified": "$modified", "date_completed": "$modified", "date_paid": "2026-06-01T10:05:00", "cart_hash": "", "cart_tax": "${cents(rnd.nextInt(500))}", "discount_tax": "0.00", "discount_total": "${cents(rnd.nextInt(1000))}", "shipping_tax": "${cents(rnd.nextInt(100))}", "shipping_total": "${cents(rnd.nextInt(1500))}", "total": "${cents(rnd.nextInt(100000))}", "total_tax": "${cents(rnd.nextInt(800))}", "transaction_id": "txn_$id", "customer_id": ${rnd.nextInt(5000)}, "customer_ip_address": "", "customer_note": "", "customer_user_agent": "", "payment_method": "${pick("stripe", "paypal")}", "payment_method_title": "Card", "created_via": "${pick("checkout", "admin")}", "salesforce_id": "", "billing": {${address(withEmail = true)}}, "shipping": {${address(withEmail = false)}}, "cru_data": {"agent": {"email": "a${rnd.nextInt(20)}@example.org", "name": "A"}, "ordered_by": {"email": "o${rnd.nextInt(5000)}@example.org", "name": "O", "phone": ""}, "shipping": {"custom_note": "", "date_shipped": "$shipped", "shipped_method": "", "method_id": "", "method_title": ""}, "radio_station": {"id": "", "description": ""}, "customer_role": "${pick("retail", "staff", "ministry")}", "po_number": "", "salesforce_account": "", "discounts": ${discounts.mkString("[", ",", "]")}}, "meta_data": ${meta.mkString("[", ",", "]")}, "line_items": ${items.mkString("[", ",", "]")}}"""
    }

    /** Orders created or modified at `modified`; returns (orders, lines) changed. */
    def advance(nNew: Int, nMod: Int, modified: String): (Long, Long) = {
      val mod = rnd.shuffle(current.keys.toVector).take(nMod)
      val fresh = (0 until nNew).map { _ => nextId += 1 + rnd.nextInt(3); nextId }
      (mod ++ fresh).foreach(id => current(id) = (modified, body(id, modified)))
      ((mod ++ fresh).size.toLong, (mod ++ fresh).map(lines).sum.toLong)
    }

    def serve(url: String, params: Map[String, String]): RestPager.Response = {
      val after = params.get("modified_after")
      val live = current.valuesIterator.filter { case (m, _) => after.forall(m > _) }.map(_._2).toVector
      val per = params("per_page").toInt
      val page = params("page").toInt
      val total = math.max(1, (live.size + per - 1) / per)
      RestPager.Response(200, live.slice((page - 1) * per, page * per).mkString("[", ",", "]"),
        headers = Map("X-WP-TotalPages" -> total.toString))
    }
  }

  def wooJob(seed: Long, f: Double): Job = Job("woo_sync", oracle = false, { ctx =>
    val t0 = System.nanoTime()
    val api = new WooServer(seed)
    val root = s"${ctx.outDir}/woo"
    val expected = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val steps = ((fullOrders(f), 0) +: increments(f)).zipWithIndex
    steps.foreach { case ((nNew, nMod), k) =>
      val (o, l) = api.advance(nNew, nMod, f"2026-06-${k + 2}%02dT00:00:00")
      val r = WooIncremental.sync(ctx.spark, api, "http://woo/orders", root,
        f"2026-06-${k + 2}%02dT12:00:00")
      expected += ((s"woo sync $k orders appended", o, r.ordersAppended))
      expected += ((s"woo sync $k items appended", l, r.itemsAppended))
    }
    val distinct = api.current.size.toLong
    ctx.add("sources.pages", api.pages)
    ctx.add("sources.transport_s", api.nanos / 1e9)
    ctx.add("pipelines.woo_sync_s", (System.nanoTime() - t0 - api.nanos) / 1e9)
    Checks(() => expected.toSeq :+ (("woo latest-view distinct ids", distinct,
      WooIncremental.latestOrders(ctx.spark.read.parquet(s"$root/orders")).count())))
  })

  // -- Okta: ~10k users (active + deprovisioned), groups, members --

  private val Groups = 6
  private val EveryoneThreshold = 500L

  final class OktaServer(seed: Long, f: Double) extends Server {
    private val ActiveUsers = (8000 * f).toInt
    private val DeprovUsers = (2000 * f).toInt
    private val Overlap = (500 * f).toInt
    private val rnd = new Random(seed)
    private val ids = rnd.shuffle((0 until ActiveUsers + DeprovUsers - Overlap).toVector).map(i => f"u$i%06d")
    val active: Vector[String] = ids.take(ActiveUsers)
    val deprov: Vector[String] = ids.takeRight(DeprovUsers)
    val distinctUsers: Int = ids.size
    val groupSizes: Vector[(String, Int)] = (0 until Groups).map { g =>
      f"g$g%02d" -> (if (g < 2) 600 + rnd.nextInt(200) else 20 + rnd.nextInt(180)).min(active.size)
    }.toVector
    private val members = groupSizes.map { case (g, n) => g -> rnd.shuffle(active).take(n) }.toMap

    /** A user in the 13-column shape of FIXTURES.md §1; nested objects
      * arrive as JSON text, as the reference stores them. */
    private def user(id: String, status: String, updated: String): String =
      s"""{"id":"$id","status":"$status","created":"2026-01-01T00:00:00.000Z","activated":"2026-01-02T00:00:00.000Z","statusChanged":"$updated","lastLogin":"2026-05-${10 + rnd.nextInt(20)}T08:00:00.000Z","lastUpdated":"$updated","passwordChanged":"2026-03-01T00:00:00.000Z","type":"{\\"id\\":\\"oty1\\"}","profile":"{\\"login\\":\\"$id@example.org\\",\\"firstName\\":\\"F\\",\\"lastName\\":\\"L\\",\\"department\\":\\"D${rnd.nextInt(40)}\\"}","credentials":"{\\"provider\\":{\\"type\\":\\"OKTA\\"}}","_links":"{\\"self\\":{\\"href\\":\\"http://okta/users/$id\\"}}","transitioningToStatus":null}"""

    // built on the first request, so inside the server's own time
    private lazy val activeRows = active.map(user(_, "ACTIVE", "2026-06-01T10:00:00.000Z"))
    private lazy val deprovRows = deprov.map(user(_, "DEPROVISIONED", "2026-06-02T10:00:00.000Z"))
    private lazy val userRow = active.zip(activeRows).toMap
    // the 9-column group shape of FIXTURES.md §1
    private lazy val groupRows = groupSizes.map { case (g, _) =>
      s"""{"id":"$g","created":"2026-01-01T00:00:00.000Z","lastUpdated":"2026-05-01T00:00:00.000Z","lastMembershipUpdated":"2026-06-01T00:00:00.000Z","objectClass":"[\\"okta:user_group\\"]","type":"OKTA_GROUP","profile":"{\\"name\\":\\"$g\\",\\"description\\":\\"\\"}","source":null,"_links":"{\\"users\\":{\\"href\\":\\"http://okta/groups/$g/users\\"}}"}"""
    }

    private def paged(base: String, rows: Vector[String], limit: Int, params: Map[String, String],
                      url: String): RestPager.Response = {
      val after = "after=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(0)
      val lim = params.get("limit").map(_.toInt).getOrElse(limit)
      val next = after + lim
      RestPager.Response(200, rows.slice(after, next).mkString("[", ",", "]"),
        links = if (next < rows.size) Map("next" -> s"$base?limit=$lim&after=$next") else Map.empty)
    }

    def serve(url: String, params: Map[String, String]): RestPager.Response = {
      val base = url.takeWhile(_ != '?')
      val lim = "limit=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(200)
      base match {
        case "http://okta/users" =>
          paged(base, activeRows, lim, params, url)
        case "http://okta/users/deprovisioned" =>
          paged(base, deprovRows, lim, params, url)
        case "http://okta/groups" =>
          paged(base, groupRows, lim, params, url)
        case m if m.startsWith("http://okta/groups/") =>
          val g = m.stripPrefix("http://okta/groups/").takeWhile(_ != '/')
          paged(base, members(g).map(userRow), lim, params, url)
        case _ => RestPager.Response(404, "")
      }
    }
  }

  def oktaJob(seed: Long, f: Double): Job = Job("okta_refresh", oracle = false, { ctx =>
    val t0 = System.nanoTime()
    val s = ctx.spark
    import s.implicits._
    val api = new OktaServer(seed, f)
    val root = s"${ctx.outDir}/okta"
    val pagesOf = (url: String) => RestPager.cursor(api, url, limit = 200).toSeq
    val users = OktaRefresh.conformAndDedup(
      RestPager.toDf(s, pagesOf("http://okta/users"))
        .unionByName(RestPager.toDf(s, pagesOf("http://okta/users/deprovisioned")), allowMissingColumns = true),
      OktaRefresh.UsersSchema, OktaRefresh.DedupKeys("users"))
    val groups = RestPager.toDf(s, pagesOf("http://okta/groups"))
    val counts = api.groupSizes.toDF("id", "n_members")
    val (members, everyone) = OktaRefresh.syncGroupMembers(s, groups.select(col("id")),
      Seq.empty[String].toDF("id"), counts, EveryoneThreshold, api,
      g => s"http://okta/groups/$g/users")
    val published = OktaRefresh.refreshTables(s,
      Map("users" -> users, "groups" -> groups, "group_members" -> members), root)
    ctx.add("sources.pages", api.pages)
    ctx.add("sources.transport_s", api.nanos / 1e9)
    ctx.add("pipelines.okta_refresh_s", (System.nanoTime() - t0 - api.nanos) / 1e9)
    val small = api.groupSizes.filter(_._2 <= EveryoneThreshold)
    Checks(() => Seq(
      ("okta tables published", 3L, published.values.count(identity).toLong),
      ("okta users published", api.distinctUsers.toLong, ManifestSwap.read(s, root, "users").count()),
      ("okta groups published", Groups.toLong, ManifestSwap.read(s, root, "groups").count()),
      ("okta group_members published", small.map(_._2).sum.toLong,
        ManifestSwap.read(s, root, "group_members").count()),
      ("okta everyone groups", (Groups - small.size).toLong, everyone.count())))
  })

  // -- GeoNames files: delimited text and zip members --

  // Row counts are assumed: the reference publishes none, and the full
  // dumps (allCountries, alternateNamesV2) hold millions of rows, far
  // more than a run can afford; the daily modification and deletion
  // files are small next to them.
  private val GeoRows: Map[String, Int] = Map(
    "geo_all_countries" -> 10000, "geo_alternate_names_v_2" -> 5000,
    "geo_all_countries_modified" -> 1000, "geo_country_info" -> 250).withDefaultValue(300)

  private val CountryCodes = Vector("US", "CA", "MX", "GB", "FR", "DE", "NA", "ZA", "IN", "JP")
  private val NumericText = Set("latitude", "longitude", "population", "elevation", "dem",
    "gmt_offset_jan_1", "dst_offset_jan_1", "raw_offset_independent_of_dst")

  /** A value that fits the column: typed columns get a parseable integer,
    * float or date; string columns that hold numbers, dates or codes in
    * the real files get text of that form (country code "NA", Namibia,
    * included); other strings get a name-like word. */
  private def geoValue(rnd: Random, name: String, typ: String): String = {
    def float = java.lang.String.format(java.util.Locale.ROOT, "%.5f", Double.box(rnd.nextDouble() * 360 - 180))
    def date = java.time.LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(2400)).toString
    typ match {
      case "integer" => rnd.nextInt(10000000).toString
      case "float" => float
      case "date" => date
      case _ if NumericText(name) => float
      case _ if name.endsWith("_date") => date
      case _ if name.startsWith("is_") => if (rnd.nextInt(5) == 0) "1" else ""
      case _ if name.contains("code") || name == "cc2" => CountryCodes(rnd.nextInt(CountryCodes.size))
      case _ => (0 until 4 + rnd.nextInt(7)).map(k => (if (k == 0) 'A' else 'a') + rnd.nextInt(26)).map(_.toChar).mkString
    }
  }

  /** Writes every enabled table's source file; returns (dir, rows per table). */
  def writeGeoFiles(dir: String, seed: Long, f: Double): (String, Map[String, Long]) = {
    Files.createDirectories(Paths.get(dir))
    val rnd = new Random(seed)
    val expected = GeoIngest.Tables.filter(_.enabled).map { t =>
      val n = math.max(1, (GeoRows(t.name) * f).toInt)
      val text = new StringBuilder
      (0 until t.skipRows).foreach(i => text ++= s"# preamble $i\n")
      (0 until n).foreach { i =>
        text ++= t.schema.zipWithIndex.map { case ((name, typ), j) =>
          if (j == 0) s"${i + 1}" else geoValue(rnd, name, typ) }.mkString("\t")
        text += '\n'
      }
      if (t.file.endsWith(".zip")) {
        val zip = new ZipOutputStream(new FileOutputStream(s"$dir/${t.file}"))
        try {
          val member = t.file.stripSuffix(".zip") + ".txt"
          if (t.memberRegex.isDefined) {
            zip.putNextEntry(new ZipEntry("readme.txt")); zip.write("not data\n".getBytes); zip.closeEntry()
          }
          zip.putNextEntry(new ZipEntry(member)); zip.write(text.toString.getBytes("UTF-8")); zip.closeEntry()
        } finally zip.close()
      } else {
        val w = new PrintWriter(s"$dir/${t.file}", "UTF-8")
        try w.write(text.toString) finally w.close()
      }
      t.name -> n.toLong
    }.toMap
    (dir, expected)
  }

  def geoJob(files: (String, Map[String, Long])): Job = Job("geo_ingest", oracle = false, { ctx =>
    val t0 = System.nanoTime()
    val counts = GeoIngest.run(ctx.spark, f => s"${files._1}/$f", s"${ctx.outDir}/geo",
      java.sql.Date.valueOf("2026-06-01"))
    ctx.add("pipelines.geo_ingest_s", (System.nanoTime() - t0) / 1e9)
    Checks(() => files._2.toSeq.sortBy(_._1).map { case (t, n) =>
      (s"geo $t rows published", n, counts.getOrElse(t, -1L)) })
  })
}
