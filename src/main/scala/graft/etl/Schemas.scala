package graft.etl

import org.apache.spark.sql.types._

/** The reference's data contracts (SURVEY.md §1.2), as explicit fail-fast
  * StructTypes plus the FR→EN rename maps (P1). */
object Schemas {

  /** employee_activities fact table — Strava_Data/import_to_postgre.ipynb
    * (cell 229eb7e1) DDL; Spark StructType mirror of
    * bronze/consume_data2.py:13-21 (dates as µs-epoch longs in CDC). */
  val activityCdc: StructType = StructType(Seq(
    StructField("ID", IntegerType, nullable = false),
    StructField("ID_salarie", IntegerType, nullable = false),
    StructField("Date_de_debut", LongType, nullable = false), // µs epoch
    StructField("Sport_type", StringType, nullable = false),
    StructField("Distance_m", IntegerType, nullable = true),
    StructField("Date_de_fin", LongType, nullable = false), // µs epoch
    StructField("Commentaire", StringType, nullable = true)))

  /** Decoded activity row (timestamps materialized). */
  val activity: StructType = StructType(Seq(
    StructField("ID", IntegerType, nullable = false),
    StructField("ID_salarie", IntegerType, nullable = false),
    StructField("Date_de_debut", TimestampType, nullable = false),
    StructField("Sport_type", StringType, nullable = false),
    StructField("Distance_m", IntegerType, nullable = true),
    StructField("Date_de_fin", TimestampType, nullable = false),
    StructField("Commentaire", StringType, nullable = true)))

  /** Debezium CDC envelope (payload.op / payload.after) —
    * bronze/redPandaToDeltaLake.py:72-89. */
  val debeziumEnvelope: StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("op", StringType),
      StructField("before", activityCdc),
      StructField("after", activityCdc),
      StructField("ts_ms", LongType))))))

  /** DonneesRH.xlsx columns (gold/bronzeToGold.py:117, gmap_commute.py:193-210,
    * gold/2test1.py:19-132). Accented/space-laden names preserved —
    * callers must backtick-quote. */
  val hr: StructType = StructType(Seq(
    StructField("ID salarié", IntegerType, nullable = false),
    StructField("Nom", StringType),
    StructField("Prénom", StringType),
    StructField("Adresse du domicile", StringType),
    StructField("Moyen de déplacement", StringType),
    StructField("Date de naissance", StringType),
    StructField("Date d'embauche", StringType),
    StructField("Salaire brut", DoubleType),
    StructField("Nombre de jours de CP", IntegerType),
    StructField("BU", StringType),
    StructField("Type de contrat", StringType)))

  /** DonneesSportive.xlsx — gold/bronzeToGold.py:117,217. */
  val sportive: StructType = StructType(Seq(
    StructField("ID salarié", IntegerType, nullable = false),
    StructField("Pratique d'un sport", StringType)))

  /** FR→EN standardization renames — find_unique_employee.ipynb
    * (cells a2592db9, b0cab438). */
  val activityRenames: Map[String, String] = Map(
    "ID_salarié" -> "employee_id",
    "ID_salarie" -> "employee_id",
    "Date_de_début" -> "start_date",
    "Date_de_debut" -> "start_date",
    "Type" -> "sport_type",
    "Sport_type" -> "sport_type",
    "Distance" -> "distance_meters",
    "Distance_m" -> "distance_meters",
    "Date_de_fin" -> "end_date",
    "Commentaire" -> "comment")

  val hrRenames: Map[String, String] = Map(
    "ID salarié" -> "employee_id",
    "Nom" -> "last_name",
    "Prénom" -> "first_name",
    "Adresse du domicile" -> "home_address",
    "Moyen de déplacement" -> "transport_mode",
    "Date de naissance" -> "birth_date",
    "Date d'embauche" -> "hire_date",
    "Salaire brut" -> "salary",
    "Nombre de jours de CP" -> "vacation_days",
    "Type de contrat" -> "contract_type")

  /** Per-sport plausibility ranges (metres) — sport_benefits.py:9-19
    * SPORT_TYPES, exact values, insertion order preserved (the reference
    * extends the violation list in dict order). */
  val sportDistanceRanges: Seq[(String, (Int, Int))] = Seq(
    "Course à pied" -> (2000, 25000),
    "Vélo" -> (5000, 50000),
    "Marche" -> (1000, 15000),
    "Randonnée" -> (3000, 30000),
    "Trottinette" -> (2000, 20000),
    "Natation" -> (500, 3000))

  /** Sports with has_distance=True — sport_benefits.py:41-46 (Escalade,
    * Yoga, Musculation carry no distance). */
  val distanceSports: Seq[String] = sportDistanceRanges.map(_._1)
}

/** Typed API-boundary case classes (SURVEY.md §1.3: DataFrame-first,
  * Dataset[T] at the boundary). */
object Models {
  final case class Activity(
      ID: Int, ID_salarie: Int, Date_de_debut: java.sql.Timestamp,
      Sport_type: String, Distance_m: Option[Int],
      Date_de_fin: java.sql.Timestamp, Commentaire: Option[String])

  final case class ValidationReport(
      futureDates: Seq[Int], negativeDistances: Seq[Int],
      invalidSportDistances: Seq[Int])
}
