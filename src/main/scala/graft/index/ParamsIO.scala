package graft.index

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Params sidecars of the vector indexes (`ann_params.json`,
  * `ivf_params.json`, `pq/pq_params.json`): one flat JSON object of integer
  * fields, written through Hadoop FS so it lands beside the index data on
  * any filesystem, and read with the same Jackson parser as [[ManifestIO]].
  */
object ParamsIO {
  private val mapper = new ObjectMapper()

  /** Write the fields of `params` (a case class of Int/Long fields) in
    * declaration order, replacing any existing file.
    */
  def write(spark: SparkSession, path: String, params: Product): Unit = {
    val node = mapper.createObjectNode()
    params.productElementNames.zip(params.productIterator).foreach {
      case (k, v) => node.put(k, v.asInstanceOf[Number].longValue)
    }
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
  }

  /** Every field of the sidecar; a field the file lacks is absent. */
  def read(spark: SparkSession, path: String): Map[String, Long] = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val root = try mapper.readTree(in) finally in.close()
    val names = root.fieldNames()
    val out = Map.newBuilder[String, Long]
    while (names.hasNext) {
      val k = names.next()
      out += k -> root.get(k).asLong()
    }
    out.result()
  }
}
