"""Sources: deterministic synthetic CDC data (``datagen``) and the Debezium
envelope codec (``debezium``)."""
