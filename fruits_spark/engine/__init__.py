"""Spark execution layer: session, feature extraction, tier rollups,
gap-fill, codecs, lineage checkpoints."""
