package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.core.Config
import graft.operators.Pipeline
import graft.sources.{ArchiveStreamAudit, Listing, RawTable}

/** Seeded NCSBE-shaped bucket: one dirty UTF-16 VR snapshot zip, one
  * LATIN1 statewide voter zip, a small quoted candidate listing that
  * takes the repair path, and decoy keys the include regexes must drop.
  * About a third of the persons appear in both voter files; a share of
  * snapshot persons appear twice. The truth is each component's
  * distinct tuples, kept in memory and written beside the bucket as TSV. */
object IngestGen {
  val Persons = 3000
  val SnapshotRepeatFrac = 0.3
  val Candidates = 300
  val Components = Seq("c_person", "c_address", "c_contact", "c_party")

  val Group = "cycle_bench"
  val Bucket = "ncsbe"

  val configYaml: String =
    """fetch:
      |  cycle_bench:
      |    ncsbe:
      |      include:
      |        - 'Snapshots/VR_Snapshot_[0-9]{8}\.zip$'
      |        - '/ncvoter_Statewide\.zip$'
      |        - 'Elections/Candidate_Listing_[0-9]{4}\.csv$'
      |compress:
      |  a_vr_snapshot:
      |    include:
      |      - '^vr_snapshot_'
      |    components:
      |      c_person:
      |        subst:
      |          middle_name: midl_name
      |          name_suffix: name_sufx_cd
      |      c_address:
      |        subst:
      |          res_street_address: concat_ws(' ', house_num, street_name, street_type_cd)
      |      c_contact:
      |        subst:
      |          full_phone: area_cd||phone_num
      |      c_party: 1
      |  a_ncvoter:
      |    include:
      |      - '^ncvoter_statewide$'
      |    components:
      |      c_person:
      |        subst:
      |          name_suffix: name_suffix_lbl
      |      c_address: 1
      |      c_contact:
      |        subst:
      |          full_phone: full_phone_number
      |      c_party: 1
      |  a_candidate:
      |    include:
      |      - '^candidate_listing_'
      |    components:
      |      c_person:
      |        subst:
      |          ncid: cast(null as string)
      |          name_suffix: name_suffix_lbl
      |      c_address:
      |        subst:
      |          res_street_address: street_address
      |          res_city_desc: city
      |          state_cd: state
      |      c_contact:
      |        subst:
      |          full_phone: phone
      |      c_party:
      |        subst:
      |          county_desc: county_name
      |          party_cd: party_candidate
      |components:
      |  c_person:
      |    - ncid
      |    - last_name
      |    - first_name
      |    - middle_name
      |    - name_suffix
      |  c_address:
      |    - res_street_address
      |    - res_city_desc
      |    - state_cd
      |    - zip_code
      |  c_contact:
      |    - full_phone
      |  c_party:
      |    - county_desc
      |    - party_cd
      |""".stripMargin

  private val lastNames = Seq("SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES",
    "GARCIA", "MILLER", "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ",
    "GONZALEZ", "WILSON", "ANDERSON", "THOMAS", "TAYLOR", "MOORE", "JACKSON",
    "MARTIN", "LEE", "PEREZ", "THOMPSON", "WHITE", "HARRIS", "SANCHEZ", "CLARK",
    "RAMIREZ", "LEWIS", "ROBINSON", "WALKER", "YOUNG", "ALLEN", "KING", "WRIGHT",
    "SCOTT", "TORRES", "NGUYEN", "HILL", "FLORES", "GREEN", "ADAMS", "NELSON",
    "BAKER", "HALL", "RIVERA", "CAMPBELL", "MITCHELL", "CARTER", "ROBERTS",
    "O'BRIEN", "O'NEAL", "D'ANGELO", "O'CONNOR", "MÜLLER", "NÚÑEZ", "PEÑA",
    "GÓMEZ", "BJÖRK", "LEFÈVRE", "PHILLIPS", "EVANS", "TURNER", "PARKER",
    "COLLINS", "EDWARDS", "STEWART", "MORRIS", "MURPHY", "COOK", "ROGERS",
    "MORGAN", "COOPER", "PETERSON", "REED", "BAILEY", "BELL", "KELLY", "HOWARD",
    "WARD", "COX", "RICHARDSON", "WOOD", "WATSON", "BROOKS", "BENNETT", "GRAY",
    "JAMES", "REYES", "CRUZ", "HUGHES", "PRICE", "MYERS", "LONG", "FOSTER")
  private val firstNames = Seq("JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN",
    "JENNIFER", "MICHAEL", "LINDA", "DAVID", "ELIZABETH", "WILLIAM", "BARBARA",
    "RICHARD", "SUSAN", "JOSEPH", "JESSICA", "THOMAS", "SARAH", "CHARLES",
    "KAREN", "CHRISTOPHER", "LISA", "DANIEL", "NANCY", "MATTHEW", "BETTY",
    "ANTHONY", "MARGARET", "MARK", "SANDRA", "DONALD", "ASHLEY", "STEVEN",
    "KIMBERLY", "PAUL", "EMILY", "ANDREW", "DONNA", "JOSHUA", "MICHELLE",
    "JOSÉ", "RENÉE", "ZOË", "ANDRÉ", "KENNETH", "CAROL", "KEVIN", "AMANDA")
  private val streets = Seq("MAIN", "OAK", "PINE", "MAPLE", "CEDAR", "ELM",
    "WASHINGTON", "LAKE", "HILL", "PARK", "CHURCH", "MILL", "SPRING", "RIDGE",
    "FOREST", "MEADOW", "HICKORY", "DOGWOOD", "MAGNOLIA", "WILLOW", "HOLLY")
  private val streetTypes = Seq("ST", "RD", "AVE", "DR", "LN", "CT", "WAY", "BLVD")
  private val cities = Seq("RALEIGH", "CHARLOTTE", "DURHAM", "GREENSBORO",
    "WINSTON SALEM", "FAYETTEVILLE", "CARY", "WILMINGTON", "HIGH POINT",
    "ASHEVILLE", "CONCORD", "GASTONIA", "JACKSONVILLE", "CHAPEL HILL",
    "ROCKY MOUNT", "BURLINGTON", "HUNTERSVILLE", "WILSON", "KANNAPOLIS", "APEX")
  private val counties = Seq("WAKE", "MECKLENBURG", "DURHAM", "GUILFORD",
    "FORSYTH", "CUMBERLAND", "NEW HANOVER", "BUNCOMBE", "CABARRUS", "GASTON",
    "ONSLOW", "ORANGE", "NASH", "ALAMANCE", "UNION", "JOHNSTON", "PITT",
    "IREDELL", "DAVIDSON", "ROWAN")
  private val parties = Seq("DEM", "REP", "UNA", "LIB", "GRE")
  private val areaCodes = Seq("919", "704", "336", "252", "828", "910", "980", "984")
  private val suffixes = Seq("JR", "SR", "II", "III")

  final case class Person(ncid: String, last: String, first: String,
                          middle: String, suffix: String, house: String,
                          street: String, stype: String, city: String,
                          zip: String, area: String, phone: String,
                          county: String, party: String)

  def persons(seed: Long): IndexedSeq[Person] = {
    val r = new Random(seed * 7919L + 11L)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    (0 until Persons).map { i =>
      val middle = if (r.nextDouble() < 0.2) "" else if (r.nextBoolean())
        pick(firstNames) else ('A' + r.nextInt(26)).toChar.toString
      Person(f"NC$i%07d", pick(lastNames), pick(firstNames), middle,
        if (r.nextDouble() < 0.08) pick(suffixes) else "",
        (1 + r.nextInt(9999)).toString, pick(streets), pick(streetTypes),
        pick(cities), (27000 + r.nextInt(2000)).toString, pick(areaCodes),
        f"${r.nextInt(10000000)}%07d", pick(counties), pick(parties))
    }
  }

  /** Rows each source holds, by construction, and each component's
    * distinct tuples, as [[rowKey]]s. */
  final case class Inputs(bucket: String, truth: Map[String, Set[String]],
                          sourceRows: Long, componentRowsIn: Long,
                          zipRoutedFiles: Int, listedFiles: Int)

  /** Marks a null field in a [[rowKey]]. */
  val Null = "\u0000"
  /** One component row as a string: fields tab-joined, nulls as [[Null]]. */
  def rowKey(fields: Seq[Option[String]]): String = fields.map(_.getOrElse(Null)).mkString("\t")

  private def nz(s: String): Option[String] = if (s.isEmpty) None else Some(s)

  private def zipWriter(path: Path, entry: String, cs: Charset): (Writer, () => Unit) = {
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16))
    zos.putNextEntry(new ZipEntry(entry))
    val w = new OutputStreamWriter(zos, cs)
    (w, () => { w.flush(); zos.closeEntry(); zos.close() })
  }

  def ensure(dir: String, seed: Long): Inputs = {
    val root = Paths.get(dir)
    val bucket = root.resolve("bucket")
    val truth = root.resolve("truth")
    val ps = persons(seed)
    val vrPersons = 0 until (Persons * 2 / 3)
    val ncvPersons = (Persons / 3) until Persons
    val r = new Random(seed * 31L + 5L)
    val vrRepeat = vrPersons.filter(_ => r.nextDouble() < SnapshotRepeatFrac).toSet
    val candIdx = (0 until Candidates).map(_ => r.nextInt(Persons))
    val vrRows = vrPersons.size + vrRepeat.size
    val sourceRows = (vrRows + ncvPersons.size + candIdx.size).toLong
    val sets = Components.map(_ -> mutable.LinkedHashSet[Seq[Option[String]]]()).toMap
    def addTruth(p: Person, ncid: Option[String]): Unit = {
      sets("c_person") += Seq(ncid, Some(p.last), Some(p.first), nz(p.middle), nz(p.suffix))
      sets("c_address") += Seq(Some(s"${p.house} ${p.street} ${p.stype}"), Some(p.city),
        Some("NC"), Some(p.zip))
      sets("c_contact") += Seq(Some(p.area + p.phone))
      sets("c_party") += Seq(Some(p.county), Some(p.party))
    }
    vrPersons.foreach(i => addTruth(ps(i), Some(ps(i).ncid)))
    ncvPersons.foreach(i => addTruth(ps(i), Some(ps(i).ncid)))
    candIdx.foreach(i => addTruth(ps(i), None))
    val done = root.resolve(".done")
    val inputs = Inputs(bucket.toString, sets.map { case (c, rows) => c -> rows.map(rowKey).toSet },
      sourceRows, sourceRows * Components.size, 3, 11)
    if (Files.exists(done)) return inputs

    Files.createDirectories(bucket.resolve("Snapshots/old"))
    Files.createDirectories(bucket.resolve("Elections/2024"))
    Files.createDirectories(truth)

    // VR snapshot: UTF-16, spaced header names, and apostrophes typed as
    // double quotes between capitals (the repair turns them back)
    val (vw, vclose) = zipWriter(bucket.resolve("Snapshots/VR_Snapshot_20240101.zip"),
      "VR_Snapshot_20240101.txt", StandardCharsets.UTF_16)
    vw.write(Seq("Snapshot Dt", "County Id", "County Desc", "Voter Reg Num", "NCID",
      "Status Cd", "Voter Status Desc", "Reason Cd", "Last Name", "First Name",
      "Midl Name", "Name Sufx Cd", "House Num", "Street Name", "Street Type Cd",
      "Res City Desc", "State Cd", "Zip Code", "Area Cd", "Phone Num", "Race Code",
      "Ethnic Code", "Party Cd", "Sex Code", "Age", "Birth Place", "Registr Dt",
      "Precinct Abbrv", "Municipality Abbrv", "Cong Dist Abbrv", "NC Senate Abbrv")
      .mkString("\t") + "\n")
    def vrLine(i: Int, snap: String): String = {
      val p = ps(i)
      Seq(snap, (1 + i % 100).toString, p.county, (100000 + i).toString, p.ncid,
        "A", "ACTIVE", "AV", p.last.replace('\'', '"'), p.first, p.middle, p.suffix,
        p.house, p.street, p.stype, p.city, "NC", p.zip, p.area, p.phone,
        Seq("W", "B", "A", "O")(i % 4), "NL", p.party, Seq("M", "F", "U")(i % 3),
        (18 + i % 80).toString, "NC", f"20${i % 24}%02d-0${1 + i % 9}-15",
        f"P${i % 300}%03d", f"M${i % 50}%02d", (1 + i % 14).toString,
        (1 + i % 50).toString).mkString("\t") + "\n"
    }
    vrPersons.foreach(i => vw.write(vrLine(i, "2024-01-01")))
    vrRepeat.toSeq.sorted.foreach(i => vw.write(vrLine(i, "2023-07-01")))
    vclose()

    // statewide voter file: LATIN1, clean, already snake_case
    val (nw, nclose) = zipWriter(bucket.resolve("ncvoter_Statewide.zip"),
      "ncvoter_Statewide.txt", StandardCharsets.ISO_8859_1)
    nw.write(Seq("county_id", "county_desc", "voter_reg_num", "ncid", "last_name",
      "first_name", "middle_name", "name_suffix_lbl", "status_cd",
      "voter_status_desc", "reason_cd", "res_street_address", "res_city_desc",
      "state_cd", "zip_code", "full_phone_number", "race_code", "ethnic_code",
      "party_cd", "gender_code", "birth_age", "birth_state", "registr_dt",
      "precinct_abbrv", "municipality_abbrv", "ward_abbrv", "cong_dist_abbrv",
      "nc_senate_abbrv", "nc_house_abbrv", "school_dist_abbrv").mkString("\t") + "\n")
    ncvPersons.foreach { i =>
      val p = ps(i)
      nw.write(Seq((1 + i % 100).toString, p.county, (100000 + i).toString, p.ncid,
        p.last, p.first, p.middle, p.suffix, "A", "ACTIVE", "AV",
        s"${p.house} ${p.street} ${p.stype}", p.city, "NC", p.zip, p.area + p.phone,
        Seq("W", "B", "A", "O")(i % 4), "NL", p.party, Seq("M", "F", "U")(i % 3),
        (18 + i % 80).toString, "NC", f"20${i % 24}%02d-0${1 + i % 9}-15",
        f"P${i % 300}%03d", f"M${i % 50}%02d", f"W${i % 9}", (1 + i % 14).toString,
        (1 + i % 50).toString, (1 + i % 120).toString, f"S${i % 40}%02d")
        .mkString("\t") + "\n")
    }
    nclose()

    // candidate listing: LATIN1 CSV, non-empty fields quoted (some hold
    // commas), empty fields bare
    val cw = new OutputStreamWriter(new BufferedOutputStream(new FileOutputStream(
      bucket.resolve("Elections/Candidate_Listing_2024.csv").toFile)),
      StandardCharsets.ISO_8859_1)
    cw.write("election_dt,county_name,contest_name,name_on_ballot,first_name," +
      "middle_name,last_name,name_suffix_lbl,nick_name,street_address,city,state," +
      "zip_code,business_phone,phone,party_candidate\n")
    def q(s: String): String = if (s.isEmpty) "" else "\"" + s + "\""
    candIdx.zipWithIndex.foreach { case (i, k) =>
      val p = ps(i)
      cw.write(Seq("2024-03-05", p.county, f"NC HOUSE DISTRICT ${k % 120}%03d",
        s"${p.last}, ${p.first}", p.first, p.middle, p.last, p.suffix, "",
        s"${p.house} ${p.street} ${p.stype}", p.city, "NC", p.zip, "",
        p.area + p.phone, p.party).map(q).mkString(",") + "\n")
    }
    cw.close()

    // decoys: every one must be dropped by the include regexes
    Seq("Snapshots/VR_Snapshot_20240101.zip.md5", "Snapshots/VR_Snapshot_layout.txt",
      "Snapshots/old/VR_Snapshot_2023.zip", "ncvhis_Statewide.zip",
      "layout_ncvoter.txt", "Elections/Candidate_Listing_2024.csv.bak",
      "Elections/2024/results_pct_20240305.zip", "Elections/2024/README")
      .foreach(k => Files.write(bucket.resolve(k), s"decoy $k\n".getBytes(StandardCharsets.UTF_8)))

    sets.foreach { case (c, rows) =>
      val header = Config.parse(configYaml).components(c).mkString("\t")
      Files.writeString(truth.resolve(s"$c.tsv"),
        rows.iterator.map(_.map(_.getOrElse("")).mkString("\t"))
          .mkString(header + "\n", "\n", "\n"), StandardCharsets.UTF_8)
    }
    Files.createFile(done)
    inputs
  }
}

/** `reference_cycle`: the per-cycle batch the paper runs, plus snapshot
  * upkeep. One call is one full cycle: `Pipeline.run(persist = true)`
  * over the seeded bucket, then one small `upsertTargeted` batch into the
  * keyed voter registry ([[SnapshotUpkeep]]). Reads look voters up in
  * the registry through `SnapshotTable.table`. */
final class ReferenceCycleWorkload(ctx: Ctx) extends Workload(ctx) {
  /** a traced run reads more, so its lookup tail has ten samples beyond it */
  private val ReadsPerCycle = if (ctx.trace) 14 else 4
  private val spec = Config.parse(IngestGen.configYaml)
  private val registry = new SnapshotUpkeep(ctx)
  private var in: IngestGen.Inputs = _
  /** the per-group database `Pipeline.run` persists into */
  private lazy val db = Pipeline.run(spark, spec, IngestGen.Group, Map.empty,
    Pipeline.Stages(load = false, compress = false)).database

  /** Every row of every component table, as (component, [[IngestGen.rowKey]]),
    * in one job. */
  private def componentRows(): Map[String, Seq[String]] =
    IngestGen.Components.map { c =>
      val df = spark.table(s"$db.$c")
      df.select(lit(c).as("c"),
        concat_ws("\t", df.columns.toIndexedSeq.map(f => coalesce(col(f), lit(IngestGen.Null))): _*)
          .as("row"))
    }.reduce(_ unionByName _).collect().toSeq
      .groupBy(_.getString(0)).map { case (c, rs) => c -> rs.map(_.getString(1)) }

  private def ingest(): Unit =
    Pipeline.run(spark, spec, IngestGen.Group, Map(IngestGen.Bucket -> in.bucket),
      persist = true)

  def generate(): Unit = {
    // the generator's sizes are part of the cache key
    in = IngestGen.ensure(
      s"${ctx.cache}/ingest-${ctx.seed}-${IngestGen.Persons}-${IngestGen.Candidates}", ctx.seed)
    Main.phase("bucket ready")
    registry.generate()
  }

  /** Untimed: drop the group's raw and component tables, so the checks
    * after the cycle read only what the cycle wrote; then build the
    * registry batch. */
  override def before(iter: Int): Unit = {
    if (spark.catalog.databaseExists(db)) spark.sql(s"DROP DATABASE $db CASCADE")
    registry.before()
  }

  def op(iter: Int): Long = {
    val opened0 = ArchiveStreamAudit.opened.get
    val (_, secs) = Recorder.clock(span("operators.Pipeline.run")(ingest()))
    rec.sample("pipeline_run_s", secs)
    rec.sample("zip_opens", (ArchiveStreamAudit.opened.get - opened0).toDouble)
    in.sourceRows + registry.upsert()
  }

  def after(iter: Int): Unit = {
    val got = rec.attempt("read component tables")(componentRows()).getOrElse(Map.empty)
    IngestGen.Components.foreach { c =>
      rec.check(s"component $c equals the generator's distinct tuples") {
        val rows = got.getOrElse(c, Nil)
        rows.size == in.truth(c).size && rows.toSet == in.truth(c)
      }
    }
    registry.lookups(ReadsPerCycle, new Random(ctx.seed * 1000L + iter))
  }

  override def finish(): Unit = registry.finish()

  override def probe(iter: Int): Unit = {
    val roots = Map(IngestGen.Bucket -> in.bucket)
    val patterns = spec.fetch(IngestGen.Group)(IngestGen.Bucket).include.map(_.r)
    val (planned, planS) = Recorder.clock(span("sources.Listing.planFiles") {
      Listing.planFiles(spark, in.bucket, patterns)
    })
    rec.sample("listing_plan_ms", planS * 1e3)
    rec.sample("listing_planned", planned.size)
    rec.sample("listing_listed", in.listedFiles)
    rec.sample("archives_planned", in.zipRoutedFiles)

    val (res, constructS) = Recorder.clock(span("operators.Pipeline.construct") {
      Pipeline.run(spark, spec, IngestGen.Group, roots, persist = false)
    })
    rec.sample("pipeline_construct_s", constructS)

    val (_, loadS) = Recorder.clock(span("sources.RawTable.load") {
      planned.foreach { p =>
        span(s"sources.RawTable.load:${RawTable.tableName(p)}") {
          RawTable.load(spark, p)._2.write.format("noop").mode("overwrite").save()
        }
      }
    })
    rec.sample("rawtable_load_s", loadS)
    rec.sample("rawtable_rows", in.sourceRows)

    val (outRows, mergeS) = Recorder.clock(span("operators.Components.merge") {
      res.components.toSeq.sortBy(_._1).map { case (c, df) =>
        span(s"operators.Components.merge:$c")(df.count())
      }.sum
    })
    rec.sample("components_merge_s", mergeS)
    rec.sample("components_rows_out", outRows.toDouble)
    rec.sample("components_rows_in", in.componentRowsIn.toDouble)
  }
}
