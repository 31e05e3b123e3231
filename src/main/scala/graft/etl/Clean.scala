package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CpfClean.cpfClean

/** Transform phase — the reference's `etl_transformacao`
  * (`/root/reference/etl_process.py:194–215`) re-expressed as one
  * declarative projection + a deterministic dedup.
  *
  * Quirk policy (SURVEY §1.4):
  *  - Q1 header normalization: reproduced exactly.
  *  - Q2 cpf/cnpj digit-strip (`etl_process.py:10–11`): reproduced
  *    exactly by the native `CpfClean` expression.
  *  - Q3 phone clean: CANONICALIZED — digits-only, null stays null (the
  *    reference leaves float artifacts and the literal "nan"; our
  *    source reads phones as strings so there is nothing to mangle).
  *    Applied to both phone columns (the reference cleans only
  *    Celulares, `etl_process.py:200` — Telefones is stringified raw at
  *    insert, `etl_process.py:173`).
  *  - Q4 null defaults (UF/Plano): reproduced exactly.
  *  - Q8 dedup survivor: CANONICALIZED to a deterministic row_number
  *    window (the reference's dropDuplicates keeps an arbitrary row).
  *  - Q9 double execution: eliminated — callers cache the cleaned frame
  *    once (Pipeline).
  */
object Clean {

  /** Quirk Q1 (`etl_process.py:197`). */
  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(Schemas.normalizeHeader): _*)

  /** Canonicalized Q3: digits-only, empty → null, null → null. */
  def cleanPhone(c: Column): Column = nullif(cpfClean(c), lit(""))

  /** The full transform over the (header-normalized) typed input.
    * One `select` (not stacked withColumns — SURVEY §3.2): every output
    * column in a single projection Catalyst folds into the scan. */
  def transform(raw: DataFrame): DataFrame = {
    val df = normalizeHeaders(raw)
    df.select(
      col("Nome_Razão_Social"),
      col("Nome_Fantasia"),
      // raw CPF_CNPJ is dropped: Spark is case-insensitive by default,
      // so keeping it alongside the cleaned lower-case column would make
      // every later reference ambiguous (the reference keeps both in
      // case-sensitive pandas but never reads the raw one again)
      cpfClean(col("CPF_CNPJ")).as("cpf_cnpj"),
      col("Data_Nasc"), // typed DateType at the source
      // the reference `to_date`s the timestamp (etl_process.py:208) —
      // the stored value is the calendar date (midnight timestamp)
      col("Data_Cadastro_cliente").cast(DateType).cast(TimestampType)
        .as("Data_Cadastro_cliente"),
      cleanPhone(col("Celulares")).as("Celulares"),
      cleanPhone(col("Telefones")).as("Telefones"),
      col("Emails"),
      col("Endereço"), col("Número"), col("Complemento"), col("Bairro"),
      col("CEP"), col("Cidade"),
      // Q4 defaults (etl_process.py:210–211)
      coalesce(col("UF"), lit("Desconhecido")).as("UF"),
      coalesce(col("Plano"), lit("Plano Desconhecido")).as("Plano"),
      // Q4: when(isNotNull, cast) with no otherwise — null propagates;
      // DecimalType(15,2) instead of the reference's lossy float
      when(col("Plano_Valor").isNotNull,
        col("Plano_Valor").cast(DecimalType(15, 2))).as("Plano_Valor"),
      col("Vencimento"),
      col("Status"), col("Isento"),
    )
  }

  /** Deterministic replacement for `dropDuplicates(["cpf_cnpj"])`
    * (quirk Q8, `etl_process.py:213`): the survivor is the earliest
    * signup, tie-broken by name/email and finally by a fingerprint of
    * the ENTIRE row — a true total order (rows tying on all business
    * keys but differing anywhere else would otherwise still be an
    * arbitrary pick; fully identical rows are interchangeable). The
    * window shuffles once on the dedup key, same as dropDuplicates. */
  def dedupDeterministic(df: DataFrame): DataFrame = {
    val rowFingerprint =
      md5(concat_ws("\u0001", df.columns.map(c => col(s"`$c`").cast("string")): _*))
    val w = Window.partitionBy("cpf_cnpj")
      .orderBy(col("Data_Cadastro_cliente").asc_nulls_last,
        col("Nome_Razão_Social").asc_nulls_last,
        col("Emails").asc_nulls_last,
        rowFingerprint.asc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
