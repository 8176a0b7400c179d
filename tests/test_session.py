"""Session helpers under concurrent driver threads."""

from __future__ import annotations

import sys
import threading

from pyspark.sql import functions as F

from dataframeintervals_jl_spark.session import driver_row

AQE = "spark.sql.adaptive.enabled"


def test_concurrent_driver_row_probes_keep_aqe_setting(spark):
    """driver_rows flips the session-wide AQE conf off around its
    collect; probes from concurrent driver threads must not leave it off
    (one probe restoring another's temporary "false")."""
    prior = spark.conf.get(AQE)
    spark.conf.set(AQE, "true")  # a leaked "false" must be visible
    switch = sys.getswitchinterval()
    errors = []

    def probe():
        try:
            for n in range(4):
                row = driver_row(spark.range(n + 1).agg(F.count(F.lit(1))))
                assert row[0] == n + 1
        except Exception as e:  # surfaced on the main thread below
            errors.append(e)

    # more threads than the test session's local[8] cores
    threads = [threading.Thread(target=probe) for _ in range(12)]
    try:
        sys.setswitchinterval(1e-6)
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "probe thread hung"
        assert not errors, errors
        assert spark.conf.get(AQE) == "true"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.set(AQE, prior)
