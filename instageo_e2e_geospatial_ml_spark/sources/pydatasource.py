"""Custom connector via the Spark 4 Python Data Source API — the
extension point that lets this engine ingest formats no built-in
reader speaks (proprietary sensor feeds, instrument archives) while
keeping partition-parallel scans: DataSourceReader.partitions()
declares the split layout, each partition materializes ONLY its slice
on its executor, and Spark plans the scan like any other source (the
same mechanism a 100 TB custom-format ingest would use; see
pyspark.sql.datasource).

The reference source here is a deterministic synthetic "sensor fleet"
(md5-derived readings — no RNG, no wall clock) so every scan is
byte-reproducible and an oracle can pin the aggregate of what the
connector emits: the CONTRACT under test is the partition math
(boundaries, no dup/no gap) and the schema, which is exactly what a
real connector gets wrong first. The connector is a batch reader
(`spark.read.format("sensors")`, registry query q262).
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)


def _reading(sensor_id: int, seq: int) -> tuple:
    """One deterministic reading: (sensor_id, tus, temp_milli).
    Closed form shared by the oracle: temp = 20000 +
    (md5int('s:<id>:<seq>') % 15000) milli-degrees, ts = epoch +
    seq minutes."""
    h = hashlib.md5(f"s:{sensor_id}:{seq}".encode()).hexdigest()
    temp = 20000 + int(h[:15], 16) % 15000
    tus = 1704067200000000 + seq * 60_000_000
    return (sensor_id, tus, temp)


class _SensorPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SensorReader(DataSourceReader):
    def __init__(self, options):
        self.n_sensors = int(options.get("nsensors", 8))
        self.n_readings = int(options.get("nreadings", 100))
        self.n_parts = int(options.get("npartitions", 4))

    def partitions(self):
        # split the SENSOR range — each partition owns whole sensors,
        # contiguous, no overlap: [start, end)
        step = (self.n_sensors + self.n_parts - 1) // self.n_parts
        return [
            _SensorPartition(lo, min(lo + step, self.n_sensors))
            for lo in range(0, self.n_sensors, step)
        ]

    def read(self, partition):
        for sid in range(partition.start, partition.end):
            for seq in range(self.n_readings):
                yield _reading(sid, seq)


class SensorDataSource(DataSource):
    """spark.read.format("sensors").option("nsensors", 8).load()"""

    @classmethod
    def name(cls):
        return "sensors"

    def schema(self):
        return "sensor_id INT, tus LONG, temp_milli LONG"

    def reader(self, schema):
        return SensorReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SensorDataSource)


def sensor_oracle_sql() -> str:
    """DuckDB twin of the connector's closed-form payload."""
    return """
WITH grid AS (
  SELECT s.s AS sensor_id, q.q AS seq
  FROM (SELECT unnest(generate_series(0, 7)) AS s) s,
       (SELECT unnest(generate_series(0, 99)) AS q) q
)
SELECT sensor_id,
       CAST(1704067200000000 + seq * 60000000 AS BIGINT) AS tus,
       CAST(20000 + CAST(('0x' || substring(md5('s:'
         || CAST(sensor_id AS VARCHAR) || ':' || CAST(seq AS VARCHAR)),
         1, 15)) AS BIGINT) % 15000 AS BIGINT) AS temp_milli
FROM grid
"""

