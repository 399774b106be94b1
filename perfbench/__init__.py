"""Build -> merge -> query benchmark for lucene_solr_spark (see README.md)."""
