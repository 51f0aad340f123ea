"""Sinks: manifest JSON (D2) and GeoParquet (D4)."""
