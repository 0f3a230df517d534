package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality side-outputs (SURVEY A2 / D3): instead of log lines, the
  * engine emits warning/validation DataFrames — queryable, sinkable,
  * countable at any scale. All checks are per-row array aggregates
  * (zero shuffle).
  */
object Validation {

  private def sumOf(arr: String): Column =
    expr(s"aggregate(filter($arr.participacion, v -> v is not null), " +
      "cast(0 as double), (a, v) -> a + v)")

  /** Percentage-sum validation (`_validar_suma_porcentajes`,
    * /root/reference/src/etl/transform.py:663-679): one warning row per
    * out-of-range list. plazo_duracion is always validated; composition
    * categories and principales_inversiones only when their sum > 0
    * (transform.py:489-492,513-514).
    */
  def sumWarnings(transformed: DataFrame): DataFrame = {
    val checks: Seq[(String, Column, Column)] = Seq(
      ("plazo_duracion", sumOf("plazo_duracion"), lit(true)),
      ("principales_inversiones", sumOf("principales_inversiones"),
        sumOf("principales_inversiones") > 0)) ++
      Seq("por_activo", "por_tipo_de_renta", "por_sector_economico",
        "por_pais_emisor", "por_moneda", "por_calificacion").map { cat =>
        val s = sumOf(s"composicion_portafolio.$cat")
        (cat, s, s > 0)
      }
    val warnings = checks.map { case (campo, suma, applies) =>
      struct(lit(campo).as("campo"), suma.as("suma"),
        (applies && !(suma >= 0.95 && suma <= 1.05)).as("warn"))
    }
    transformed
      .select(col("filename"), col("fic.nombre_fic").as("nombre_fic"),
        explode(array(warnings: _*)).as("w"))
      .filter(col("w.warn"))
      .select(col("filename"), col("nombre_fic"),
        col("w.campo").as("campo"), col("w.suma").as("suma"))
  }

  /** Date-vs-folder consistency (script_transform.py:49-114): lenient —
    * a document is invalid only when BOTH the folder year/month and the
    * fecha_corte year/month parse and disagree. `try_cast`: a free-text
    * date ('desconocida', 'n/a') is unparsable, hence valid — an ANSI
    * cast would throw on it and abort the whole folder.
    */
  def dateFolderCheck(transformed: DataFrame, folderName: String): DataFrame = {
    val m = "^.*?[_-]?(\\d{4})[_-](\\d{1,2})$".r
    val (fy, fm) = folderName match {
      case m(y, mo) => (y.toInt, mo.toInt)
      case _ => (-1, -1)
    }
    val parts = split(col("fic.fecha_corte"), "-")
    val jy = element_at(parts, 1).try_cast("int")
    val jm = try_element_at(parts, lit(2)).try_cast("int")
    val valid =
      if (fy < 0) lit(true)
      else when(col("fic.fecha_corte").isNull || jy.isNull || jm.isNull, true)
        .otherwise(jy === fy && jm === fm)
    transformed.select(
      col("filename"), col("fic.fecha_corte").as("fecha_corte"),
      valid.as("fecha_valida"))
  }

  /** Skip-list emission (script_transform.py:270-293): base names of the
    * mismatched files, one per line with the header comments. Collected
    * to a single small text file (the skip list is tiny by construction).
    */
  def writeSkipList(validation: DataFrame, outPath: String): Unit = {
    val bad = validation.filter(!col("fecha_valida"))
      .select(regexp_replace(col("filename"), "_transformed\\.json$", "").as("base"))
      .orderBy(col("base"))
      .collect().map(_.getString(0))
    val body = "# Lista de archivos con fechas no coincidentes\n" +
      "# Generado automáticamente desde validación de fechas\n\n" +
      bad.mkString("", "\n", if (bad.nonEmpty) "\n" else "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), body)
  }
}
