"""Sinks: the queue-database writers, each run on the driver over one
Arrow collect and one transaction per call (the Kafka writers live in
``streaming.kafka``)."""
