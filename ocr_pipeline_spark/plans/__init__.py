"""End-to-end job assembly (scan → hash(url) → extract → sink + manifests)."""
