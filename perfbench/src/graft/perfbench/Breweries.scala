package graft.perfbench

import java.util.SplittableRandom

import graft.pipeline.Ingest

/** Seeded brewery source for the medallion workloads.
  *
  * Every raw value is drawn from a fixed vocabulary in which each entry
  * carries its cleaned (silver) form, written out here rather than
  * derived with the engine's cleanse, so the pipeline's output can be
  * checked against it. The vocabulary covers every dirty case of
  * FIXTURES.md section A1: leading and trailing spaces, mixed case with
  * internal spaces, the reference's mojibake literals (U+FFFD), true
  * diacritics, connector punctuation, and nulls in every column the API
  * does not guarantee.
  *
  * (country, state) pairs follow a Zipf law (weight 1/k for the k-th
  * pair) over the 109 pairs below. The pairs and the law are chosen, not
  * taken from a real brewery listing: the skew puts most rows in a few
  * silver partitions and a few rows in many. Silver writes one directory
  * per pair, so its file count follows the pair count.
  */
object Breweries {

  /** A raw API value and its cleaned form. */
  final case class V(raw: String, clean: String)

  /** Slug of a plain ASCII name: only letters, spaces and dashes, so the
    * cleaned form is the lowercase name with spaces turned into dashes. */
  private def plain(raw: String): V = {
    require(raw.forall(c => c.isLetter && c < 128 || c == ' ' || c == '-'), raw)
    V(raw, raw.toLowerCase.replace(' ', '-'))
  }

  private def plains(names: String*): Seq[Seq[V]] = names.map(n => Seq(plain(n)))

  final case class Country(raws: Seq[V], states: Seq[Seq[V]])

  val countries: Seq[Country] = Seq(
    Country(Seq(V("United States", "united-states"), V(" United States", "united-states"),
        V("united states ", "united-states")),
      plains("California", "Colorado", "Washington", "Michigan", "Pennsylvania",
        "North Carolina", "Oregon", "Texas", "Ohio", "Illinois", "Florida", "Virginia",
        "Wisconsin", "Minnesota", "Massachusetts", "Indiana", "Maine", "Missouri",
        "Arizona", "Georgia", "Vermont", "Maryland", "New Jersey", "Montana", "Iowa",
        "Idaho", "Tennessee", "Kentucky", "Connecticut", "New Hampshire", "Utah",
        "South Carolina", "Alabama", "Alaska", "Arkansas", "Delaware",
        "District of Columbia", "Hawaii", "Kansas", "Louisiana", "Mississippi",
        "Nebraska", "Nevada", "New Mexico", "North Dakota", "Oklahoma", "Rhode Island",
        "South Dakota", "West Virginia", "Wyoming") ++ Seq(
        Seq(V("New York", "new-york"), V("NEW YORK", "new-york"), V("new york ", "new-york")),
        Seq(V("Rhode_Island", "rhodeisland")))),
    Country(Seq(plain("Germany")),
      plains("Bayern", "Berlin", "Brandenburg", "Bremen", "Hamburg", "Hessen",
        "Mecklenburg-Vorpommern", "Niedersachsen", "Nordrhein-Westfalen",
        "Rheinland-Pfalz", "Saarland", "Sachsen", "Sachsen-Anhalt",
        "Schleswig-Holstein") ++ Seq(
        Seq(V("Baden-Württemberg", "baden-wurttemberg")),
        Seq(V("Thüringen", "thuringen")))),
    Country(Seq(plain("Austria")),
      plains("Burgenland", "Salzburg", "Steiermark", "Tirol", "Vorarlberg", "Wien") ++ Seq(
        Seq(V("Kärnten", "karnten"), V("k�rnten", "karnten"), V("KÄRNTEN", "karnten")),
        Seq(V("Niederösterreich", "niederosterreich"),
          V("nieder�sterreich", "niederosterreich")),
        Seq(V("Oberösterreich", "oberosterreich")))),
    Country(Seq(V("Österreich", "osterreich")),
      plains("Wien", "Tirol") :+ Seq(V("Kärnten", "karnten"))),
    Country(Seq(plain("Brazil")),
      plains("Bahia", "Minas Gerais", "Santa Catarina") ++ Seq(
        Seq(V("São Paulo", "sao-paulo"), V("SÃO PAULO", "sao-paulo"), V("sao paulo", "sao-paulo")),
        Seq(V("Rio De Janeiro", "rio-de-janeiro"), V("Rio de Janeiro", "rio-de-janeiro")),
        Seq(V("Espírito Santo", "espirito-santo")), Seq(V("Goiás", "goias")),
        Seq(V("Paraná", "parana")), Seq(V("Rondônia", "rondonia")))),
    Country(Seq(plain("Poland")),
      plains("Mazowieckie", "Pomorskie") ++ Seq(
        Seq(V("Dolnośląskie", "dolnoslaskie")), Seq(V("Łódzkie", "lodzkie")),
        Seq(V("Małopolskie", "malopolskie")), Seq(V("Śląskie", "slaskie")),
        Seq(V("Świętokrzyskie", "swietokrzyskie")),
        Seq(V("Warmińsko-Mazurskie", "warminsko-mazurskie")))),
    Country(Seq(plain("Ireland")), plains("Cork", "Dublin", "Galway", "Kerry")),
    Country(Seq(plain("England")),
      plains("Bristol", "Cornwall", "Greater London", "Greater Manchester", "Kent")),
    Country(Seq(plain("South Korea")), plains("Seoul", "Gyeonggi-do")),
    Country(Seq(plain("Isle of Man")), plains("Isle of Man")))

  /** Every (country, state) pair, most frequent first. */
  val pairs: IndexedSeq[(Country, Seq[V])] =
    countries.flatMap(c => c.states.map(c -> _)).toIndexedSeq

  private val pairCdf: Array[Double] = cdf(pairs.indices.map(k => 1.0 / (k + 1)))

  val breweryTypes: IndexedSeq[String] = IndexedSeq(
    "micro", "brewpub", "planned", "closed", "regional", "contract", "proprietor", "large")
  private val typeCdf = cdf(Seq(55.0, 20, 7, 4, 5, 5, 3, 1))

  val cities: IndexedSeq[V] = IndexedSeq(
    plain("Portland"), plain("San Diego"), plain("Denver"), plain("Austin"),
    plain("Asheville"), plain("Bend"), plain("Dublin"), plain("Cork"),
    V("New York", "new-york"), V(" Grand Rapids ", "grand-rapids"),
    V("klagenfurt am w�rthersee", "klagenfurt-am-worthersee"),
    V("München", "munchen"), V("São Paulo", "sao-paulo"),
    V("Rio De Janeiro", "rio-de-janeiro"), V("Kraków", "krakow"),
    V("Wrocław", "wroclaw"), V("some_city", "somecity"), V("Zürich", "zurich"))

  val names: IndexedSeq[V] = IndexedSeq(
    V("Anheuser-Busch Inc ̢���� Williamsburg",
      "Anheuser-Busch/Inbev Williamsburg Brewery"),
    V("Caf� Okei", "Cafe Okei"), V("Wimitzbr�u", "Wimitzbrau"),
    V("Some \u00e2\u0080\u0093 Brewery", "Some - Brewery"), V("Café Okei", "Café Okei"),
    V("some_brewery", "some_brewery"), V("Bière de Garde Co", "Bière de Garde Co"),
    V("Hops, Malt & Co", "Hops, Malt & Co"), V("Plain Brewery", "Plain Brewery"),
    V("Ten Barrel Brewing", "Ten Barrel Brewing"), V("Brauerei Kärnten", "Brauerei Kärnten"),
    V("Cervejaria São Jorge", "Cervejaria São Jorge"), V("Browar Śląski", "Browar Śląski"),
    V("Mountain Goat Brewing", "Mountain Goat Brewing"))

  private def cdf(weights: Seq[Double]): Array[Double] = {
    val total = weights.sum
    weights.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** The drawn fields of one row, as indices into the vocabularies. */
  final case class Draw(pair: Int, countryRaw: Int, stateRaw: Int, kind: Int,
                        city: Int, name: Int, rng: SplittableRandom)

  def draw(seed: Long, i: Int): Draw = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val p = draw(pairCdf, rng.nextDouble())
    val (country, state) = pairs(p)
    Draw(p, rng.nextInt(country.raws.size), rng.nextInt(state.size),
      draw(typeCdf, rng.nextDouble()), rng.nextInt(cities.size), rng.nextInt(names.size), rng)
  }

  /** Gold as the drawn rows define it: (brewery_type, country, state) -> count. */
  def expectedGold(seed: Long, n: Int): Map[(String, String, String), Long] =
    (0 until n).groupMapReduce { i =>
      val d = draw(seed, i)
      val (country, state) = pairs(d.pair)
      (breweryTypes(d.kind), country.raws.head.clean, state.head.clean)
    }(_ => 1L)(_ + _)

  /** Silver's cleaned city and name values over the drawn rows. */
  def expectedCleaned(seed: Long, n: Int): (Set[String], Set[String]) = {
    val ds = (0 until n).map(draw(seed, _))
    (ds.map(d => cities(d.city).clean).toSet, ds.map(d => names(d.name).clean).toSet)
  }

  /** The seeded API: `total()` rows served `perPage` at a time. Pure in
    * (seed, row index), so pages fetched on executors match the driver's. */
  private def coord(x: Double): String = "%.7f".formatLocal(java.util.Locale.ROOT, x)

  final class Fetcher(seed: Long, n: Int) extends Ingest.Fetcher {
    override def total(): Int = n

    override def page(page: Int, perPage: Int): Seq[Map[String, String]] = {
      val start = (page - 1) * perPage
      (start until math.min(start + perPage, n)).map(row)
    }

    def row(i: Int): Map[String, String] = {
      val d = draw(seed, i)
      val (country, state) = pairs(d.pair)
      val r = d.rng
      def maybe(p: Double)(v: => String): String = if (r.nextDouble() < p) null else v
      val stateRaw = state(d.stateRaw).raw
      Map(
        "id" -> f"${seed & 0xffff}%04x-$i%08d",
        "name" -> names(d.name).raw,
        "brewery_type" -> breweryTypes(d.kind),
        "street" -> maybe(0.1)(s"${r.nextInt(9999) + 1} Main St"),
        "address_1" -> maybe(0.1)(s"${r.nextInt(9999) + 1} Main St"),
        "address_2" -> maybe(0.95)("Suite 100"),
        "address_3" -> maybe(0.99)("Building B"),
        "city" -> cities(d.city).raw,
        "state_province" -> maybe(0.05)(stateRaw),
        "postal_code" -> maybe(0.05)(f"${r.nextInt(100000)}%05d"),
        "country" -> country.raws(d.countryRaw).raw,
        "longitude" -> maybe(0.15)(coord(r.nextDouble() * 360 - 180)),
        "latitude" -> maybe(0.15)(coord(r.nextDouble() * 180 - 90)),
        "phone" -> maybe(0.2)(f"${r.nextLong(10000000000L)}%010d"),
        "website_url" -> maybe(0.3)(s"http://www.brewery$i.example"),
        "state" -> stateRaw)
    }
  }
}
