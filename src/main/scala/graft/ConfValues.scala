package graft

import org.apache.spark.sql.RuntimeConfig

/** Typed reads of graft's session settings: a malformed value fails with
  * an error that names its key, never a bare NumberFormatException. */
object ConfValues {

  def long(conf: RuntimeConfig, key: String, default: Long): Long =
    conf.getOption(key).fold(default) { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a whole number, got '$v'"))
    }
}
