package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.PathFunctions._
import graft.functions.PathExpressions.{basenameFast, basepathFast}

/** The reference's three base views plus the `vwf_dir_contents` table
  * function, as DataFrame builders (`FileDbDAL/SQLUtil.py:223-357`).
  *
  * Plan shape at scale: `file ⋈ directory` is a dimension join —
  * `directory` is orders of magnitude smaller than `file`, so we broadcast
  * it; `file ⟕ hash` is 1:0..1 on `file_id`, co-partitioned by key (sort
  * merge or shuffled hash at 100 TB, chosen by AQE). The parent-dir
  * self-join precomputes `basepath(dir_path)` as a column so Catalyst sees
  * a plain equi-join key.
  *
  * These builders are the views' definitions. `SparkEntry.cat` caches
  * each one once per catalog (materialized views with the catalog's
  * lifetime), so the plans above run once per catalog, not per lookup.
  */
object Views {

  /** `vw_ll` (`SQLUtil.py:223-248`): files ∪ dirs in one relation.
    * Deviation from reference (documented, SURVEY §7.4.6): we also project
    * no extra columns; `file_id` stands in for the `id` the reference's
    * dup-search references but never projects. */
  def vwLl(directory: DataFrame, file: DataFrame, hash: DataFrame): DataFrame = {
    val d = directory.select(col("id").as("d_id"), col("dir_path"),
      col("ctime").as("d_ctime"), col("mtime").as("d_mtime"))
    val files = file
      .join(broadcast(d), file("dir_id") === d("d_id"))
      .join(hash.select("file_id", "md5_hash", "sha1_hash"),
        file("id") === hash("file_id"), "left")
      .select(
        lit("file").as("type"),
        pathJoin(col("dir_path"), col("name")).as("full_path"),
        file("id").as("file_id"),
        // final projection is DOUBLE (exact for these magnitudes): the
        // base table keeps DECIMAL for order-independent SUMs, but view
        // consumers compare/emit scalars, where DOUBLE is engine-portable.
        col("name"), col("dir_id"), col("size").cast("double").as("size"),
        file("ctime"), file("mtime"), col("atime"),
        col("md5_hash"), col("sha1_hash"), col("dir_path"))
    val child = directory.select(col("dir_path").as("c_path"),
      col("ctime").as("c_ctime"), col("mtime").as("c_mtime"))
      .withColumn("parent_path", basepathFast(col("c_path")))
    val parent = directory.select(col("id").as("p_id"), col("dir_path").as("p_path"))
    val dirs = child
      .join(broadcast(parent), child("parent_path") === parent("p_path"))
      .select(
        lit("dir").as("type"),
        col("c_path").as("full_path"),
        lit(0L).as("file_id"),
        basenameFast(col("c_path")).as("name"),
        col("p_id").as("dir_id"),
        lit(0d).as("size"),
        col("c_ctime").as("ctime"), col("c_mtime").as("mtime"),
        lit(null).cast("timestamp").as("atime"),
        lit(null).cast("string").as("md5_hash"),
        lit(null).cast("string").as("sha1_hash"),
        col("p_path").as("dir_path"))
    files.unionByName(dirs)
  }

  /** `vw_file_detail` (`SQLUtil.py:252-266`): files + category via the
    * expression-key join `fc.extension = extension(f.name)` (broadcast —
    * the lookup is tiny). */
  def vwFileDetail(directory: DataFrame, file: DataFrame, hash: DataFrame,
                   fileCategory: DataFrame): DataFrame = {
    val d = directory.select(col("id").as("d_id"), col("dir_path"))
    file
      .join(broadcast(d), file("dir_id") === d("d_id"))
      .join(hash.select("file_id", "md5_hash", "sha1_hash"),
        file("id") === hash("file_id"), "left")
      .withColumn("ext", extension(col("name")))
      .join(broadcast(fileCategory), col("ext") === fileCategory("extension"), "left")
      .select(
        pathJoin(col("dir_path"), col("name")).as("full_path"),
        file("id"), col("name"), col("dir_id"), col("size").cast("double").as("size"),
        file("ctime"), file("mtime"), col("atime"),
        col("md5_hash"), col("sha1_hash"), col("dir_path"), col("category"))
  }

  /** `dir_detail` (`SQLUtil.py:269-286`) with the INTENDED semantics: the
    * reference's double LEFT JOIN inflates counts by a partial cross
    * product (SURVEY §1.4); we aggregate files and subdirs separately and
    * join the results — two independent partial aggregations, no cross
    * product, and each aggregation is map-side combinable. */
  def dirDetail(directory: DataFrame, file: DataFrame): DataFrame = {
    val fileAgg = file.groupBy(col("dir_id")).agg(
      count(col("id")).as("files"),
      sum(coalesce(col("size"), lit(0).cast(DecimalType(18, 6)))).as("sz"),
      min(col("ctime")).as("first_file_ctime"), max(col("ctime")).as("last_file_ctime"),
      min(col("mtime")).as("first_file_mtime"), max(col("mtime")).as("last_file_mtime"))
    val subdirAgg = directory
      .select(basepathFast(col("dir_path")).as("parent_path"))
      .groupBy(col("parent_path")).agg(count(lit(1)).as("subdirs"))
    directory
      .join(fileAgg, directory("id") === fileAgg("dir_id"), "left")
      .join(subdirAgg, directory("dir_path") === subdirAgg("parent_path"), "left")
      .select(
        directory("id").as("dir_id"), directory("dir_path"),
        directory("ctime"), directory("mtime"),
        coalesce(col("subdirs"), lit(0L)).as("subdirs"),
        coalesce(col("files"), lit(0L)).as("files"),
        coalesce(col("sz"), lit(0).cast(DecimalType(18, 6)))
          .cast("double").as("total_size"),
        col("first_file_ctime"), col("last_file_ctime"),
        col("first_file_mtime"), col("last_file_mtime"))
  }

  /** `dir_detail` in FAITHFUL mode: replicates the reference's actual
    * formulation (`SQLUtil.py:269-286`) including its bug — the two LEFT
    * JOINs form a partial cross product, so `files`/`subdirs`/
    * `total_size` are inflated whenever a dir has both files AND
    * subdirs. Kept alongside the intended-semantics [[dirDetail]] per the
    * faithful-vs-fixed policy (SURVEY §7.4.6): the fixed form is the
    * default; this one exists for output-parity comparisons against the
    * reference. */
  def dirDetailFaithful(directory: DataFrame, file: DataFrame): DataFrame = {
    val f = file.select(col("dir_id").as("f_dir"), col("id").as("f_id"),
      col("size").as("f_size"), col("ctime").as("f_ctime"), col("mtime").as("f_mtime"))
    val sd = directory.select(
      basepathFast(col("dir_path")).as("sd_parent"), col("id").as("sd_id"))
    directory
      .join(f, directory("id") === col("f_dir"), "left")
      .join(sd, directory("dir_path") === col("sd_parent"), "left")
      .groupBy(directory("id").as("dir_id"), directory("dir_path"),
        directory("ctime"), directory("mtime"))
      .agg(count(col("sd_id")).as("subdirs"),
        count(col("f_id")).as("files"),
        sum(coalesce(col("f_size"), lit(0).cast(DecimalType(18, 6))))
          .cast("double").as("total_size"),
        min(col("f_ctime")).as("first_file_ctime"),
        max(col("f_ctime")).as("last_file_ctime"),
        min(col("f_mtime")).as("first_file_mtime"),
        max(col("f_mtime")).as("last_file_mtime"))
  }

  /** Register the reference's relations as temp views so `spark.sql`
    * queries have name parity with the Postgres surface (`vw_ll`,
    * `vw_file_detail`, `dir_detail` + base tables). */
  def registerAll(directory: DataFrame, file: DataFrame, hash: DataFrame,
                  fileCategory: DataFrame): Unit = {
    directory.createOrReplaceTempView("directory")
    file.createOrReplaceTempView("file")
    hash.createOrReplaceTempView("hash")
    fileCategory.createOrReplaceTempView("file_category")
    vwLl(directory, file, hash).createOrReplaceTempView("vw_ll")
    vwFileDetail(directory, file, hash, fileCategory)
      .createOrReplaceTempView("vw_file_detail")
    dirDetail(directory, file).createOrReplaceTempView("dir_detail")
  }

  /** `vwf_dir_contents(int[])` (`SQLUtil.py:292-357`): files and immediate
    * subdirs of the given directory ids. */
  def vwfDirContents(directory: DataFrame, file: DataFrame, hash: DataFrame,
                     dirIds: Seq[Long]): DataFrame = {
    val d = directory.filter(col("id").isin(dirIds: _*))
      .select(col("id").as("d_id"), col("dir_path").as("d_path"))
    val files = file
      .join(broadcast(d), file("dir_id") === col("d_id"))
      .join(hash, file("id") === hash("file_id"), "left")
      .select(
        lit("file").as("type"),
        pathJoin(col("d_path"), col("name")).as("full_path"),
        file("dir_id"), file("id").as("item_id"), col("name"),
        col("size").cast("double").as("file_size"), file("ctime"), file("mtime"), col("atime"),
        col("md5_hash"), col("md5_hash_time"), col("sha1_hash"), col("sha1_hash_time"))
    val sub = directory
      .withColumn("parent_path", basepathFast(col("dir_path")))
      .join(broadcast(d), col("parent_path") === col("d_path"))
      .select(
        lit("dir").as("type"),
        col("dir_path").as("full_path"),
        col("d_id").as("dir_id"), col("id").as("item_id"),
        basenameFast(col("dir_path")).as("name"),
        lit(0d).as("file_size"),
        col("ctime"), col("mtime"), lit(null).cast("timestamp").as("atime"),
        lit(null).cast("string").as("md5_hash"),
        lit(null).cast("timestamp").as("md5_hash_time"),
        lit(null).cast("string").as("sha1_hash"),
        lit(null).cast("timestamp").as("sha1_hash_time"))
    files.unionByName(sub)
  }
}
