"""Structured Streaming layer: live datagram ingestion (``ingest``) and the
sustained crawl loop that turns each micro-batch into one crawl epoch
(``crawl_loop``)."""
