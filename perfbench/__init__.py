"""Seeded end-to-end benchmark for the lake/ETL engine (see README.md)."""
