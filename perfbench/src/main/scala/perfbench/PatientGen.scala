package perfbench

import org.apache.spark.sql.Row

/** Seeded FHIR-patient generator following the FIXTURES.md §A2 mix.
  *
  * Record `i` is a pure function of (seed, i), so the rows can be built
  * inside Spark tasks while the benchmark computes the expected outcome of
  * any index range without touching the engine. Every record falls in one
  * [[PatientGen.Kind]]; each invalid kind breaks exactly one validation
  * rule, so the expected quarantine, consent-blocked, loaded and conflict
  * counts follow from the kinds alone.
  *
  * A `Repeat` record re-submits the MRN of an earlier loaded record with a
  * name that sorts after the original's, so it is a conflict whether the
  * original sits in an earlier batch (the API's 409 against the store) or
  * earlier in the same batch (in-batch duplicate, first name wins). */
object PatientGen {
  sealed abstract class Kind(val name: String, val weight: Int)
  case object Valid extends Kind("valid", 60)
  case object MissingName extends Kind("missing_name", 6)
  case object BadDate extends Kind("bad_date", 6)
  case object BadGender extends Kind("bad_gender", 6)
  case object NoConsent extends Kind("no_consent", 8)
  case object NullSsn extends Kind("null_ssn", 8)
  case object Repeat extends Kind("repeated_mrn", 6)
  val Kinds: Seq[Kind] =
    Seq(Valid, MissingName, BadDate, BadGender, NoConsent, NullSsn, Repeat)

  private val First = Array("Jane", "John", "Maria", "Wei", "Amara", "Lars",
    "Sofia", "Ravi", "Yuki", "Omar", "Elena", "Kofi")
  private val Last = Array("Doe", "Smith", "Garcia", "Chen", "Okafor",
    "Nilsen", "Rossi", "Patel", "Tanaka", "Haddad", "Petrova", "Mensah")
  private val Genders = Array("male", "female", "other", "unknown")

  def mrn(i: Long): String = "MRN-" + pad(i, 10)

  /** `n` in decimal, zero-padded to `width` digits. */
  def pad(n: Long, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** Index of the record that owns `mrn` (its first submission). */
  def indexOf(mrn: String): Long = mrn.stripPrefix("MRN-").toLong

  /** Expected outcome of a range of records. */
  final case class Expected(counts: Map[Kind, Long], inputBytes: Long) {
    def apply(k: Kind): Long = counts.getOrElse(k, 0L)
    def submitted: Long = counts.values.sum
    def conflicts: Long = apply(Repeat)
    /** rows reaching `PatientIngestion.ingest` after conflict detection */
    def extracted: Long = submitted - conflicts
    def quarantined: Long = apply(MissingName) + apply(BadDate) + apply(BadGender)
    def blocked: Long = apply(NoConsent)
    def loaded: Long = apply(Valid) + apply(NullSsn)
    def validated: Long = loaded + blocked
    def +(o: Expected): Expected = Expected(
      Kinds.map(k => k -> (apply(k) + o(k))).toMap, inputBytes + o.inputBytes)
    def toMap: Map[String, Long] =
      Kinds.map(k => k.name -> apply(k)).toMap ++ Map(
        "submitted" -> submitted, "quarantined" -> quarantined,
        "loaded" -> loaded)
  }
  val NoRecords: Expected = Expected(Map.empty, 0L)
}

final class PatientGen(seed: Long) extends Serializable {
  import PatientGen._

  /** splitmix64 finalizer over (seed, i, salt). */
  private def h(i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L +
      salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(i: Long, salt: Long, n: Int): Int =
    java.lang.Math.floorMod(h(i, salt), n.toLong).toInt

  private def drawnKind(i: Long): Kind = {
    var u = pick(i, 1, 100)
    Kinds.find { k => u -= k.weight; u < 0 }.get
  }
  private def loadable(i: Long): Boolean = {
    val k = drawnKind(i); k == Valid || k == NullSsn
  }

  /** The earlier record a `Repeat` at `i` re-submits, searched backwards
    * from below `scopeEnd` (the batch start for cross-batch repeats, `i`
    * itself for in-batch ones). None: nothing loadable earlier. */
  private def target(i: Long, scopeEnd: Long): Option[Long] = {
    var j = scopeEnd - 1 - pick(i, 2, 997)
    while (j >= 0 && !loadable(j)) j -= 1
    if (j >= 0) Some(j) else None
  }

  /** Kind of record `i`; a drawn `Repeat` with no earlier target is valid. */
  def kind(i: Long, scopeEnd: Long): Kind = drawnKind(i) match {
    case Repeat if target(i, scopeEnd).isEmpty => Valid
    case k => k
  }

  /** Whether loaded record `i` carries an ssn. */
  def hasSsn(i: Long): Boolean = drawnKind(i) != NullSsn

  def name(i: Long): String =
    First(pick(i, 3, First.length)) + " " + Last(pick(i, 4, Last.length))
  def birthDate(i: Long): String =
    s"${1930 + pick(i, 5, 90)}-${pad(1 + pick(i, 6, 12), 2)}-${pad(1 + pick(i, 7, 28), 2)}"
  def ssn(i: Long): String =
    s"${100 + pick(i, 8, 900)}-${10 + pick(i, 9, 90)}-${1000 + pick(i, 10, 9000)}"

  /** Record `i` as a `PatientIngestion.inputSchema` row. */
  def record(i: Long, scopeEnd: Long): Row = recordAndKind(i, scopeEnd)._1

  def recordAndKind(i: Long, scopeEnd: Long): (Row, Kind) = {
    val drawn = drawnKind(i)
    val t = if (drawn == Repeat) target(i, scopeEnd) else None
    val k = if (drawn == Repeat && t.isEmpty) Valid else drawn
    val research = pick(i, 11, 2) == 0
    val consent = Map("data_sharing" -> (k != NoConsent), "research" -> research)
    val gender = if (k == BadGender) "invalid_value" else Genders(pick(i, 12, 4))
    val dob =
      if (k == BadDate) birthDate(i).split('-') match {
        case Array(y, m, d) => s"$m/$d/$y"
      }
      else birthDate(i)
    val row = t match {
      case Some(j) =>
        Row("Patient", mrn(j), name(j) + " Dup", dob, gender, ssn(i), consent)
      case None =>
        Row("Patient", mrn(i), if (k == MissingName) null else name(i), dob,
          gender, if (k == NullSsn) null else ssn(i), consent)
    }
    (row, k)
  }

  /** UTF-8 bytes of a record's raw field values (consent keys counted,
    * one byte per boolean). */
  def inputBytes(r: Row): Long = {
    var n = 0L
    (0 until 6).foreach { c =>
      if (!r.isNullAt(c)) n += r.getString(c).getBytes("UTF-8").length
    }
    r.getMap[String, Boolean](6).foreach { case (key, _) => n += key.length + 1 }
    n
  }

  /** Expected outcome of records [from, until) with repeats scoped below
    * `scopeEnd(i)`. */
  def expected(from: Long, until: Long, scopeEnd: Long => Long): Expected = {
    val counts = scala.collection.mutable.Map.empty[Kind, Long]
    var bytes = 0L
    var i = from
    while (i < until) {
      val (r, k) = recordAndKind(i, scopeEnd(i))
      counts(k) = counts.getOrElse(k, 0L) + 1
      bytes += inputBytes(r)
      i += 1
    }
    Expected(counts.toMap, bytes)
  }
}
