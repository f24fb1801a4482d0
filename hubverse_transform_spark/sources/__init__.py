"""Readers: schema-enforced CSV, cast-on-read Parquet, hub config."""
