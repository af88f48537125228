"""KG benchmark: end-to-end and per-layer measurements of recon_spark."""
