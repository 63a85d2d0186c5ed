package graft.model

/** A contracted undirected segment: pillar-to-pillar with the contracted-away
  * interior node ids carried inline (replaces the reference's InterStore,
  * /root/reference/src/inter_store.rs:7-8).
  */
final case class Edge(src: Long, dst: Long, inter: Seq[Long], wid: Long)
