"""Training-data pipeline operators (dedup, text analysis, corpus
curation) beside the CDC engine; no CDC path, streaming-runner option or
driver query uses them."""
