"""Custom operators: seen-set membership, skew-safe top-K, dedup families,
similarity search, text analysis, as-of join, image curation."""
