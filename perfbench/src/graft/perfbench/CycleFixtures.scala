package graft.perfbench

import scala.collection.mutable

/** The fixture pages of one scrape cycle plus the CDC events the cycle
  * must produce against the previous one. Page frames are (zip, html)
  * or (url, html), the shapes FixtureSource and TruliaFixtureSource read. */
final case class CycleInput(
    urePages: Seq[(String, String)],
    ureDetails: Seq[(String, String)],
    truliaIndex: Seq[(String, String)],
    truliaDetails: Seq[(String, String)],
    planted: Map[String, Long],
    listings: Long) {
  def pages: Long =
    (urePages.size + ureDetails.size + truliaIndex.size + truliaDetails.size).toLong
}

/** Seeded generator of synthetic URE and Trulia pages for a sequence of
  * cycles. Cycle 0 lists 6,271 listings across 353 zips (the reference's
  * listings.csv and all_zip_codes.json sizes). Every later cycle takes 2%
  * of that count off market, re-prices 5% of the listings that stay and
  * lists 2% new ones; these churn shares are assumed, since the reference
  * publishes none. About one listing in ten also appears on Trulia, at
  * the same price, so the cross-source dedup has work. The planted event
  * counts come from the generator's own bookkeeping. */
final class CycleFixtures(seed: Long) {
  import CycleFixtures._

  private val rng = new java.util.SplittableRandom(seed)
  private val zips = (0 until zipCount).map(i => f"${84001 + i}%05d")
  private val cities = Vector("Provo", "Orem", "Sandy", "Ogden", "Lehi",
    "Draper", "Logan", "Murray", "Layton", "Heber")
  private val firsts = Vector("jane", "john", "maria", "li", "ahmed", "sara",
    "tom", "ana", "wei", "kate", "omar", "lucy", "ben", "rosa", "ivan")
  private val lasts = Vector("smith", "doe", "garcia", "chen", "van buren",
    "johnson", "lee", "de la cruz", "young", "hansen", "olsen", "kim")
  private val agentCount = 900
  private val brokerCount = 60
  private var active = Vector.empty[L]
  private var nextId = 0
  private var cycle = -1

  private def newListing(): L = {
    val l = L(nextId, rng.nextInt(zipCount), 150000L + rng.nextInt(850) * 1000L,
      rng.nextInt(agentCount), rng.nextInt(brokerCount), 800 + rng.nextInt(3200))
    nextId += 1
    l
  }

  private def sample(n: Int, from: Int): Set[Int] = {
    val picked = mutable.LinkedHashSet[Int]()
    while (picked.size < math.min(n, from)) picked += rng.nextInt(from)
    picked.toSet
  }

  /** Advance to the next cycle and render its pages. */
  def next(): CycleInput = {
    cycle += 1
    val planted =
      if (cycle == 0) {
        active = Vector.fill(initial)(newListing())
        Map("new_listing" -> initial.toLong, "price_change" -> 0L, "off_market" -> 0L)
      } else {
        val nOff = math.round(initial * offFrac).toInt
        val nChange = math.round(initial * changeFrac).toInt
        val nNew = math.round(initial * newFrac).toInt
        val off = sample(nOff, active.size)
        val kept = active.zipWithIndex.filterNot(p => off(p._2)).map(_._1)
        val change = sample(nChange, kept.size)
        val repriced = kept.zipWithIndex.map { case (l, i) =>
          if (!change(i)) l
          else {
            val step = (1 + rng.nextInt(15)) * 1000L
            l.copy(price = if (rng.nextBoolean() && l.price > step) l.price - step
              else l.price + step)
          }
        }
        active = repriced ++ Vector.fill(nNew)(newListing())
        Map("new_listing" -> nNew.toLong, "price_change" -> change.size.toLong,
          "off_market" -> off.size.toLong)
      }
    render(planted)
  }

  private def mls(l: L): String = (2000000 + l.id).toString
  private def city(l: L): String = cities(l.zip % cities.size)
  private def agentName(a: Int): String =
    s"${firsts(a % firsts.size)} ${lasts((a / firsts.size) % lasts.size)}${a / 180}"
  private def phone(n: Int): String = f"801-555-${n % 10000}%04d"
  private def money(p: Long): String = f"$$$p%,d"
  private def onTrulia(l: L): Boolean = l.id % 10 == 3
  private def ureUrl(l: L): String = s"https://www.utahrealestate.com/report/${mls(l)}"
  private def truliaPath(l: L): String =
    s"/p/ut/${city(l).toLowerCase}/${l.id}-main-st--${mls(l)}"

  private def ureBlock(l: L): String = {
    // one listing in twenty has no agent phone (the F3 filter drops it)
    val agentPhone =
      if (l.id % 20 == 7) "" else s"""<span class="agent-phone">${phone(l.agent)}</span>"""
    s"""<table class="public-detail-quickview"><span class="mls">${mls(l)}</span>""" +
      s"""<span class="price">${money(l.price)}</span>""" +
      s"""<span class="address">${l.id} Main St, ${city(l)}, UT ${zips(l.zip)}</span>""" +
      s"""<span class="agent-name">${agentName(l.agent)}</span>$agentPhone""" +
      s"""<span class="broker-name">Broker ${l.broker} Realty</span>""" +
      s"""<span class="broker-phone">${phone(5000 + l.broker)}</span>""" +
      s"""<span class="stats">${2 + l.id % 4} bd | ${1 + l.id % 3} ba | ${l.sqft} sqft</span>""" +
      s"""<span class="sqft">${l.sqft}</span><span class="url">${ureUrl(l)}</span></table>"""
  }

  private def ureDetail(l: L): String =
    s"""<div class="facts___item"><span class="facts-header">Days on URE</span>""" +
      s"""<div>Days on URE ${1 + (l.id + cycle) % 90}</div></div>""" +
      s"""<div class="facts___item"><span class="facts-header">Type</span>""" +
      s"""<div>Type ${if (l.id % 3 == 0) "Condo" else "Single Family"}</div></div>""" +
      s"""<div class="facts___item"><span class="facts-header">Style</span>""" +
      s"""<div>Style ${if (l.id % 2 == 0) "Rambler/Ranch" else "Two Story"}</div></div>"""

  private def truliaDetail(l: L): String =
    s"""<span class="mls">${mls(l)}</span><span class="price">${money(l.price)}</span>""" +
      s"""<span class="city">${city(l)}</span>""" +
      s"""<span class="agent-name">${agentName(l.agent)}</span>""" +
      s"""<span class="agent-phone">${phone(l.agent)}</span>""" +
      s"""<span class="features">${2 + l.id % 4} Beds • ${1 + l.id % 3} Baths • ${l.sqft} sqft</span>""" +
      s"""<span class="co-agent">Co-Agent: ${agentName(l.agent + 1)}, ${phone(l.agent + 1)}</span>""" +
      s"""<span class="broker-name">Broker ${l.broker} Realty</span>"""

  private def render(planted: Map[String, Long]): CycleInput = {
    val byZip = active.groupBy(_.zip).toSeq.sortBy(_._1)
    // result pages hold at most 12 listings, like a paginated search
    val urePages = byZip.flatMap { case (z, ls) =>
      ls.grouped(12).map(g => zips(z) -> g.map(ureBlock).mkString("<html>", "", "</html>"))
    }
    val ureDetails = active.map(l => ureUrl(l) -> ureDetail(l))
    val onT = active.filter(onTrulia)
    val truliaIndex = onT.groupBy(_.zip).toSeq.sortBy(_._1).map { case (z, ls) =>
      zips(z) -> ls.map(l =>
        s"""<a data-testid="property-card-link" href="${truliaPath(l)}">${l.id}</a>""")
        .mkString("<html>", "", "</html>")
    }
    val truliaDetails = onT.map(l => s"https://www.trulia.com${truliaPath(l)}" -> truliaDetail(l))
    CycleInput(urePages, ureDetails, truliaIndex, truliaDetails, planted, active.size.toLong)
  }

  /** Contacts already known to the agent pipeline: every third agent. */
  def contacts: Seq[(String, String, String)] =
    (0 until agentCount by 3).map { a =>
      val n = agentName(a).split(" ", 2)
      (n(0), n(1), phone(a))
    }

  def zipCodes: Seq[String] = zips
}

object CycleFixtures {
  private val initial = 6271
  private val zipCount = 353
  private val changeFrac = 0.05
  private val offFrac = 0.02
  private val newFrac = 0.02
  private final case class L(id: Int, zip: Int, price: Long, agent: Int,
      broker: Int, sqft: Int)
}
