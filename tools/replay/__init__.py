"""Replay of the reference engine's own test corpora on Spark.

Verification harness only: it reads the reference checkout's test
files, runs them through ``sneller_spark`` and compares against the
recorded outputs.  It lives outside the package, so
``session.ship_package`` never zips it to Python workers.
"""
