"""Spark-side dataset operators for the extraction engine.

Every Python UDF defined here unpickles by importing this package, so a
reused Python worker installs the zip-directory cache fix (``zipcache``)
on its first task; from its third task on it re-reads no unchanged zip
archive."""

from . import zipcache

zipcache.install()
