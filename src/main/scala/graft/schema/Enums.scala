package graft.schema

/** Constrained string domains (reference `table_fields.py:44-227, 338-353`).
  * Stored as StringType columns; these sets back the validation layer's
  * domain checks. */
object Enums {
  val Status = Seq("active", "inactive")
  val Allocation = Seq("ondemand", "reserved", "spot")
  val PriceUnit = Seq("year", "month", "hour", "gib", "gb", "gb_month")
  val CpuAllocation = Seq("shared", "burstable", "dedicated")
  val CpuArchitecture = Seq("arm64", "arm64_mac", "i386", "x86_64", "x86_64_mac")
  val StorageType = Seq("hdd", "ssd", "nvme_ssd", "network")
  val TrafficDirection = Seq("in", "out")
  val DdrGeneration = Seq("ddr3", "ddr4", "ddr5")
  val Category = Seq("processing", "memory", "storage", "network", "gpu")
  val MissingPolicy = Seq("ignore", "penalize", "require")
}
