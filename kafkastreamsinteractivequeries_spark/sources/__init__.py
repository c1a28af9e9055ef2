from kafkastreamsinteractivequeries_spark.sources.tables import load_table, transactions_from_events

__all__ = ["load_table", "transactions_from_events"]
