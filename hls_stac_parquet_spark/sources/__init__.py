"""Sources: CMR catalog DataSource and the distributed STAC fetcher."""
