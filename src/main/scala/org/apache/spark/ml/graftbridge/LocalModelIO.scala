package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.util.{MLReader, MLWriter}

/** Spark ML's driver-local model IO. `MLWriter.saveToLocal` and
  * `MLReader.loadFromLocal` write and read the stage-directory tree that
  * `save`/`load` use (a `metadata` JSON plus a `data` entry per stage),
  * but the driver writes and reads every file itself through `java.nio`,
  * where `save`/`load` start a Spark job per file. Both calls are
  * `private[spark]`, hence this object's package (as `FooterSchema`). */
object LocalModelIO {

  /** `writer`'s model as a stage-directory tree at the local path `dir`,
    * which must not exist yet. */
  def save(writer: MLWriter, dir: String): Unit = writer.saveToLocal(dir)

  /** The model that [[save]] wrote at the local path `dir`. */
  def load[T](reader: MLReader[T], dir: String): T = reader.loadFromLocal(dir)
}
