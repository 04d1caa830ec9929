"""Reading a query result on the driver in bounded runs of partitions —
the path every driver-side consumer of a whole result takes (CLI
``query`` output, the local ``export`` writers), so the driver never
holds the whole result at once."""

from __future__ import annotations

# rows a run of partitions aims at: one output block
BLOCK_ROWS = 10_000


def result_rows(df):
    """The rows of ``df`` in partition order, one Spark job per run of
    consecutive partitions, so the driver holds one run at a time.

    ``toLocalIterator`` runs one single-task job per partition: the scan
    loses its parallelism and a result of many small partitions pays a
    job start each (200 partitions of one row: ~9 s against ~0.2 s for
    one collect, on a 4-vCPU VM). Here a run starts as wide as the
    default parallelism, and, as Spark's ``take`` does, grows up to 4x
    per job while partitions come back small, aiming at ``BLOCK_ROWS``
    rows per job. Rows are read from the JVM as ``collect`` reads them,
    with no Python worker in between."""
    from pyspark.util import _load_from_socket

    rdd = df.rdd
    sc = rdd.context
    n_parts, first, width = rdd.getNumPartitions(), 0, sc.defaultParallelism
    while first < n_parts:
        parts = list(range(first, min(first + width, n_parts)))
        sock = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), rdd._jrdd, parts)
        rows = list(_load_from_socket(sock, rdd._jrdd_deserializer))
        yield from rows
        first += len(parts)
        per_part = max(len(rows), 1) / len(parts)
        width = max(
            sc.defaultParallelism,
            min(4 * width, int(BLOCK_ROWS / per_part)),
        )

