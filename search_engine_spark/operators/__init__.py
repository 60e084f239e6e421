"""Engine operators: index construction, postings layout and merging,
query-time scoring, dedup, similarity search, text analysis."""
