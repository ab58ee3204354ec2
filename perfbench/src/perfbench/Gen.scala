package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded company-name generator, written in Spark SQL from `spark.range`.
  *
  * Every value is a pure function of (seed, row id), so the same seed gives
  * the same rows in the same partitions and therefore byte-identical parquet
  * part files. Entity `e < nEntities` is present in the ground truth (GT);
  * entities at or above `nEntities` are absent from it but are named by the
  * same generator, so they look alike.
  *
  *  - A name is 2-4 pseudo-words drawn Zipf-like (P(rank r) ~ 1/(r+1)) from a
  *    vocabulary of `Vocab` words, then a legal form. Common words therefore
  *    carry long posting lists in the cos-sim index.
  *  - An entity has one GT name, and a second one with another legal form for
  *    a fifth of the entities (about 1.2 GT names per entity).
  *  - Names to match are 10% exact copies, 60% single edits (character drop,
  *    adjacent swap, abbreviated first word, changed legal form), 10% double
  *    edits (swap plus changed legal form) and 20% names of absent entities.
  *
  * The truth (`uid -> entity_id`) is written to its own table; the frames the
  * matcher transforms never carry `entity_id`, only training names do.
  */
final class Gen(spark: SparkSession, seed: Long) {

  val Vocab = 50000
  private val Consonants = "bcdfghjklmnprstv"
  private val Vowels = "aeiou"
  private val syllables: Column = array(
    (for (c <- Consonants; v <- Vowels) yield lit(s"$c$v")): _*)
  private val nSyl = Consonants.length * Vowels.length // 80
  val LegalForms: Seq[String] =
    Seq("B.V.", "N.V.", "Limited", "Ltd", "& Co", "GmbH", "S.A.", "Inc")
  private val forms: Column = array(LegalForms.map(lit): _*)

  /** Uniform double in [0, 1) from the seed, a salt and key columns. */
  private def u(salt: String, keys: Column*): Column =
    (xxhash64((lit(seed) +: lit(salt) +: keys): _*).bitwiseAND(lit((1L << 53) - 1))
      .cast("double") / lit((1L << 53).toDouble))

  private def pick(salt: String, n: Column, keys: Column*): Column =
    floor(u(salt, keys: _*) * n).cast("long")

  /** Zipf-like vocabulary rank in [0, Vocab). */
  private def zipfRank(uu: Column): Column =
    least(floor(exp(uu * math.log(Vocab + 1.0))).cast("long") - 1, lit(Vocab - 1L))

  private def syl(i: Column): Column = element_at(syllables, (i % nSyl).cast("int") + 1)

  /** The pseudo-word of a vocabulary rank: ranks below nSyl^2 get two
    * consonant-vowel syllables, the rest three; a seeded permutation inside
    * each range keeps distinct ranks distinct words.
    */
  private def word(rank: Column): Column = {
    val two = nSyl.toLong * nSyl
    val three = two * nSyl
    val p2 = pmod(rank * 4099L + lit(seed * 7L), lit(two))
    val p3 = pmod(rank * 7919L + lit(seed * 13L), lit(three))
    when(rank < two, concat(syl(p2), syl(p2 / nSyl)))
      .otherwise(concat(syl(p3), syl(p3 / nSyl), syl(p3 / two)))
  }

  /** Core name (words, no legal form) of entity `e`. */
  private def core(e: Column): Column = {
    val nWords = pick("nw", lit(3), e).cast("int") + 2
    initcap(array_join(
      transform(sequence(lit(0), nWords - 1), j => word(zipfRank(u("w", e, j)))), " "))
  }

  private def baseForm(e: Column): Column = pick("lf", lit(LegalForms.size), e)
  private def otherForm(e: Column, salt: String, keys: Column*): Column =
    pmod(baseForm(e) + 1 + pick(salt, lit(LegalForms.size - 1), keys: _*), lit(LegalForms.size))
  private def withForm(c: Column, form: Column): Column =
    concat_ws(" ", c, element_at(forms, form.cast("int") + 1))

  /** GT: (uid, name, entity_id), uid = 2 * entity + variant. */
  def groundTruth(nEntities: Long, partitions: Int): DataFrame = {
    val e = col("id")
    spark.range(0, nEntities, 1, partitions)
      .withColumn("v", explode(when(u("v2", e) < 0.2, array(lit(0), lit(1))).otherwise(array(lit(0)))))
      .select(
        (e * 2 + col("v")).as("uid"),
        withForm(core(e), when(col("v") === 0, baseForm(e)).otherwise(otherForm(e, "gtv", e))).as("name"),
        e.as("entity_id"))
  }

  /** One character edit of `c` keyed by `k`: drop, adjacent swap or
    * abbreviated first word.
    */
  private def charEdit(c: Column, kind: Column, k: Column): Column = {
    val len = length(c)
    val p = pick("pos", len - 1, k).cast("int") // 0 .. len-2
    val drop = concat(c.substr(lit(1), p), c.substr(p + 2, len))
    val swap = concat(c.substr(lit(1), p), c.substr(p + 2, lit(1)), c.substr(p + 1, lit(1)),
      c.substr(p + 3, len))
    val abbr = concat(c.substr(lit(1), lit(1)), lit("."), c.substr(instr(c, " "), len))
    when(kind === 0, drop).when(kind === 1, swap).otherwise(abbr)
  }

  /** Noisy names keyed by column `k`, drawn for entity `e` (which may be
    * absent from GT): (name, kind).
    */
  private def noisy(e: Column, k: Column, absent: Column): (Column, Column) = {
    val r = u("kind", k)
    val edit = pick("edit", lit(4), k)
    val c = core(e)
    val name =
      when(r < 0.1 || r >= 0.8, withForm(c, baseForm(e)))
        .when(r < 0.7 && edit === 3, withForm(c, otherForm(e, "nlf", k)))
        .when(r < 0.7, withForm(charEdit(c, edit, k), baseForm(e)))
        .otherwise(withForm(charEdit(c, lit(1), k), otherForm(e, "nlf", k)))
    val kind =
      when(absent, "absent").when(r < 0.1 || r >= 0.8, "exact").when(r < 0.7, "edit1").otherwise("edit2")
    (name, kind)
  }

  private def entityFor(k: Column, nEntities: Long, absent: Column): Column =
    when(absent, lit(nEntities) + pick("abs", lit(nEntities), k))
      .otherwise(pick("ent", lit(nEntities), k))

  /** Names to match: (uid, name, entity_id, kind) for uids
    * [start, start + n). Callers split this into the matcher input and the
    * truth table. `absentShare = false` draws only present entities
    * (training names).
    */
  def names(start: Long, n: Long, nEntities: Long, partitions: Int,
            absentShare: Boolean = true): DataFrame = {
    val k = col("id")
    val absent = if (absentShare) u("kind", k) >= 0.8 else lit(false)
    val e = entityFor(k, nEntities, absent)
    val (name, kind) = noisy(col("e"), k, absent)
    spark.range(start, start + n, 1, partitions)
      .withColumn("e", e)
      .select(k.as("uid"), name.as("name"), col("e").as("entity_id"), kind.as("kind"))
  }

  /** Account-grouped names: accounts of 1-5 names of one entity each, with
    * the aggregation's frequency column. Columns: uid, name, account,
    * counterparty_account_count_distinct, entity_id, kind.
    */
  def accounts(nAccounts: Long, nEntities: Long, partitions: Int): DataFrame = {
    val a = col("id")
    val absent = u("kind", a) >= 0.8
    val e = entityFor(a, nEntities, absent)
    spark.range(0, nAccounts, 1, partitions)
      .withColumn("e", e)
      .withColumn("j", explode(sequence(lit(0), pick("asz", lit(5), a).cast("int"))))
      .withColumn("k", a * 8 + col("j"))
      .select(col("k").as("uid"), noisy(col("e"), col("k"), absent)._1.as("name"),
        concat(lit("acc"), a.cast("string")).as("account"),
        (pick("freq", lit(10), col("k")) + 1).cast("int").as("counterparty_account_count_distinct"),
        col("e").as("entity_id"),
        when(absent, "absent").otherwise("present").as("kind"))
  }
}

object Gen {
  /** SHA-256 over the rows of parquet directories, in directory order, part
    * file order and row order. Parquet footers list column encodings in an
    * order that varies between JVMs, so the decoded rows, not the file
    * bytes, are what one seed must reproduce.
    */
  def digest(spark: SparkSession, dirs: Seq[File]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    dirs.foreach { d =>
      Option(d.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).foreach { f =>
          md.update(s"${d.getName}/${f.getName.take(10)}".getBytes("UTF-8"))
          spark.read.parquet(f.getAbsolutePath).collect()
            .foreach(r => md.update(r.mkString("\u0001").getBytes("UTF-8")))
        }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
